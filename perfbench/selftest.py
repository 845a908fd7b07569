#!/usr/bin/env python3
"""Self-tests of the benchmark itself, run from the repository root:

    python3 perfbench/selftest.py

1. Every generator is deterministic: the same seed gives byte-identical
   files, another seed different ones.
2. The oracle check rejects a wrong result row.
3. The output checks (perfbench.SelfTest, on the JVM) accept correct
   results and reject a dropped station, a wrong local time, a lost
   planted pair and a missing survivor.
"""
import hashlib
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

import run

failures = 0


def expect(what, ok):
    global failures
    failures += 0 if ok else 1
    print(f"{'ok  ' if ok else 'FAIL'} {what}")


def digest(root):
    h = hashlib.sha256()
    for p in sorted(Path(root).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def main():
    run.BUILD.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="selftest-", dir=run.BUILD))
    try:
        for w in sorted(run.gen.GENERATORS):
            a, b, c = (tmp / f"{w}-{i}" for i in "abc")
            run.gen.generate(w, 5, str(a))
            run.gen.generate(w, 5, str(b))
            run.gen.generate(w, 6, str(c))
            expect(f"{w}: same seed, same bytes", digest(a) == digest(b))
            expect(f"{w}: other seed, other bytes", digest(a) != digest(c))

        events = tmp / "query_mix-a"
        out = tmp / "oracle"
        (out / "q_counts").mkdir(parents=True)
        sql = "SELECT event_type, count(*) AS n FROM events GROUP BY 1"
        (out / "oracle_sql.json").write_text('{"q_counts": "%s"}' % sql)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}/events.parquet')")
        result = out / "q_counts" / "part-0.parquet"
        con.execute(f"COPY ({sql}) TO '{result}' (FORMAT PARQUET)")
        expect("oracle: correct rows accepted", run.check_oracle(events, out) == {})
        con.execute(f"COPY (SELECT event_type, n + (event_type = 'view')::BIGINT AS n "
                    f"FROM ({sql})) TO '{result}' (FORMAT PARQUET)")
        expect("oracle: wrong row rejected", "q_counts" in run.check_oracle(events, out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    cp = run.build()
    proc = subprocess.run([run.java(), "-cp", cp, "perfbench.SelfTest"])
    expect("output checks (perfbench.SelfTest)", proc.returncode == 0)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
