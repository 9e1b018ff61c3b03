#!/usr/bin/env python3
"""Re-pin the analytics_mix answers.

    python3 perfbench/pin_answers.py <scratch dir>

Writes the generated analytics tables and the headline queries' oracle
SQL into the scratch dir (JVM), runs each oracle in DuckDB over those
tables, and writes each result's row count and order-independent hash
to perfbench/src/main/resources/perfbench/answers.json. The hash must
match `Stats.resultHash` on the JVM side: columns in name order, values
in the canonical text of `Stats.canon`, SHA-256 per row, summed mod 2^64.
Run it only when the generator or a headline query's semantics change.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import struct
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TWO53 = 9007199254740992.0


def canon_double(d):
    if d == 0.0:
        d = 0.0
    if math.isnan(d):
        return "nan"
    if d == math.floor(d) and abs(d) < TWO53:
        return str(int(d))
    return "x%016x" % struct.unpack(">Q", struct.pack(">d", d))[0]


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return canon_double(v)
    if isinstance(v, decimal.Decimal):
        return canon_double(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "d" + str((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    return str(v)


def result_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        text = "\x1f".join(canon(r[i]) for i in order)
        total += struct.unpack(">q", hashlib.sha256(text.encode()).digest()[:8])[0]
    return len(rows), "%016x" % (total % (1 << 64))


def main(scratch):
    scratch = os.path.abspath(scratch)
    os.makedirs(scratch, exist_ok=True)
    _, cp = run.build(scratch)
    opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    subprocess.run(["java"] + opens + ["-Xmx2g", "-cp", cp, "graft.perfbench.Pin", scratch],
                   check=True, stderr=subprocess.DEVNULL)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for p in glob.glob(os.path.join(scratch, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    with open(os.path.join(scratch, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    answers = {}
    for name, sql in oracles.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        n, h = result_hash(cols, cur.fetchall())
        answers[name] = {"rows": n, "hash": h}
        print(f"{name}: rows={n} hash={h}")
    dest = os.path.join(run.HERE, "src", "main", "resources", "perfbench", "answers.json")
    with open(dest, "w") as fh:  # one query per line, the layout Answers.load reads
        fh.write("{\n" + ",\n".join(
            f' "{k}": {{"rows": {v["rows"]}, "hash": "{v["hash"]}"}}' for k, v in sorted(answers.items()))
            + "\n}\n")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
