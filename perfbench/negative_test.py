#!/usr/bin/env python3
"""Shows that the benchmark's output checks can fail.

    python3 perfbench/negative_test.py

Runs `ingest` and `curation` once each (short runs, outputs kept),
confirms that the untouched outputs pass, then corrupts one thing at
a time and confirms that the check reports it:

* ingest: one expected row altered; one committed file dropped; a
  redelivery drain that changed the table's files.
* curation: one key's oracle result short by a row; one key's memo-hit
  output replaced by another key's output.

Exits 0 when every corruption is caught, 1 otherwise.
"""
import copy
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SEED = 7


def expect(name, problems, should_fail):
    ok = bool(problems) == should_fail
    print(f"{'ok  ' if ok else 'FAIL'} {name}: "
          f"{problems[0] if problems else 'no problem reported'}")
    return ok


def ingest_cases():
    _, res, record, in_dir, run_dir = run.run_once("ingest", SEED, 1, 0,
                                                   keep=True)
    try:
        oks = [expect("ingest as run", run.check_ingest(res, record, in_dir),
                      False)]
        path = os.path.join(in_dir, "expected.parquet")
        good = pq.read_table(path)
        msgs = good.column("message").to_pylist()
        msgs[len(msgs) // 2] += " altered"
        pq.write_table(good.set_column(
            good.schema.get_field_index("message"), "message",
            pa.array(msgs)), path)
        oks.append(expect("ingest, one expected row altered",
                          run.check_ingest(res, record, in_dir), True))
        pq.write_table(good, path)
        dropped = copy.deepcopy(res)
        first = next(d for d in dropped["passes"] if d["kind"] == "first")
        first["files"] = first["files"][1:]
        oks.append(expect("ingest, one committed file dropped",
                          run.check_ingest(dropped, record, in_dir), True))
        changed = copy.deepcopy(res)
        rep = next(d for d in changed["passes"] if d["kind"].endswith("repeat"))
        rep["files"] = rep["files"] + rep["files"][:1]
        oks.append(expect("ingest, redelivery changed the table",
                          run.check_ingest(changed, record, in_dir), True))
        return oks
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)


def curation_cases():
    _, res, _, in_dir, run_dir = run.run_once("curation", SEED, 1, 0,
                                              keep=True)
    try:
        check = lambda r: run.check_registry(r, in_dir, run_dir)
        oks = [expect("curation as run", check(res), False)]
        short = copy.deepcopy(res)
        key = sorted(short["oracle"])[0]
        short["oracle"] = {key: f"SELECT * FROM ({short['oracle'][key]}) "
                                f"OFFSET 1"}
        oks.append(expect(f"curation, {key} oracle one row short",
                          check(short), True))
        a, b = sorted(res["oracle"])[:2]
        target = os.path.join(run_dir, "out", "repeat", a)
        shutil.rmtree(target)
        shutil.copytree(os.path.join(run_dir, "out", "first", b), target)
        oks.append(expect(f"curation, {a} memo output replaced",
                          check(res), True))
        return oks
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    oks = ingest_cases() + curation_cases()
    print(f"{sum(oks)}/{len(oks)} cases as expected")
    return 0 if all(oks) else 1


if __name__ == "__main__":
    sys.exit(main())
