"""DuckDB oracle for catalog_reads, and the row digest it shares with the
JVM side (graft.perfbench.RowHash): each value in a canonical text form,
columns sorted by name, and the table digest the sum modulo 2^64 of the
rows' 64-bit MD5 prefixes, so row order never matters."""
import datetime
import decimal
import hashlib
import math
import os
import struct

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
_EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        if math.isnan(v):
            return "dNaN"
        bits = struct.unpack(">q", struct.pack(">d", 0.0 if v == 0 else v))[0]
        return "d" + format(bits & 0xFFFFFFFFFFFFFFFF, "x")
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, decimal.Decimal):
        s = v.normalize()
        return "m" + format(s, "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return "t%d" % ((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "D%d" % (v - _EPOCH.date()).days
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    return "?" + str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    for r in rows:
        line = "\u0001".join(columns[i] + "=" + canon(r[i]) for i in order)
        acc += int.from_bytes(hashlib.md5(line.encode("utf-8")).digest()[:8], "big")
    return len(rows), format(acc % (1 << 64), "x")


def check(record):
    """Returns ({query: mismatch}, {query: why unverified}) for the
    reference results in `record` against DuckDB over the same tables."""
    import duckdb
    con = duckdb.connect()
    data = record["data_dir"]
    for t in TABLES:
        p = os.path.join(data, t + ".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    mismatched, unverified = {}, {}
    for name, sql in sorted(record["oracle_sql"].items()):
        got = record["catalog_digests"].get(name)
        if got is None:
            unverified[name] = "no Spark result"
            continue
        try:
            cur = con.execute(sql)
            cols = [c[0] for c in cur.description]
            n, h = digest(cols, cur.fetchall())
        except Exception as e:  # the oracle itself failed: unverified, not a mismatch
            unverified[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        if (n, h) != (got["rows"], got["hash"]):
            mismatched[name] = f"spark rows={got['rows']} hash={got['hash']}; duckdb rows={n} hash={h}"
    con.close()
    return mismatched, unverified
