#!/usr/bin/env python3
"""Self-test of the benchmark, at small sizes.

Checks that:
  - the input generator is seeded: the same seed gives the same rows and
    another seed other rows;
  - the generated documents carry near-duplicates at the measured rate of
    the repository's sf0.001 data (5%, each another document's text plus
    a trailing "dup");
  - every workload prints every end-to-end metric of BENCHMARK.json, with
    its unit, untraced, and every per-layer metric, with its unit, traced;
  - every per-layer metric is measured (not padded with 0) by some workload;
  - every swept query and every named leaf returns rows (the run itself
    counts an empty result as a failed check; this also lists them);
  - a deliberately corrupted output (one triple dropped) fails its check,
    and the benchmark then exits 1.

Usage (from the repository root): python3 kgbench/selftest.py
Takes about six minutes on four cores.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import gen  # noqa: E402

SIZES = {"kg_build": 50_000, "query_sweep": 500}
SEED = 9001


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", str(SEED),
           "--seconds", "2", "--trace", str(trace), "--turns", str(SIZES[workload])]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    last = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(BENCH, ".work", "results", f"{workload}-seed{SEED}-trace{trace}.json")) as fh:
        raw = json.load(fh)
    return p.returncode, last, raw


def check_generator():
    import pyarrow.parquet as pq
    tmp = tempfile.mkdtemp(dir=os.path.join(BENCH, ".work"))
    try:
        def rows(seed, name):
            gen.transcripts(os.path.join(tmp, name), seed, 2000, 2)
            return pq.read_table(os.path.join(tmp, name)).to_pylist()
        a, b, c = rows(1, "a"), rows(1, "b"), rows(2, "c")
        assert a == b, "same seed, different rows"
        assert a != c, "another seed, same rows"
        assert len(a) == 2000

        gen.analytics(os.path.join(tmp, "an"), SEED, 2000)
        texts = [r["text"] for r in pq.read_table(os.path.join(tmp, "an", "documents.parquet")).to_pylist()]
        copies = [t for t in texts if t.endswith(" dup")]
        assert 0.03 < len(copies) / len(texts) < 0.07, f"{len(copies)} near-duplicates in {len(texts)}"
        # a copied document may itself be replaced later (24 of the 25 copies
        # in the sf0.001 data still have their source)
        kept = sum(t[:-len(" dup")] in set(texts) for t in copies)
        assert kept >= 0.8 * len(copies), f"{kept} of {len(copies)} near-duplicates have their source"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_generator()
    print("generator: seeded, near-duplicates planted", flush=True)

    measured = set()
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, out, raw = run(w, trace)
            assert code == 0 and out["correct"] and out["failed"] == 0, f"{w} trace {trace}: {code} {out}"
            assert out["attempted"] >= 1
            for m in spec[key]:
                got = out["metrics"].get(m["name"])
                assert got is not None, f"{w} trace {trace}: {m['name']} missing"
                assert got["unit"] == m["unit"], f"{w}: {m['name']} unit {got['unit']}, want {m['unit']}"
                assert isinstance(got["value"], (int, float))
            assert set(out["metrics"]) == {m["name"] for m in spec[key]}
            if trace:
                measured |= set(raw["metrics"])
            if trace and w == "query_sweep":
                rows = raw["info"]["query_rows"]
                assert len(rows) == 26 and all(n > 0 for n in rows.values()), f"query rows {rows}"
                print(f"query_sweep: all {len(rows)} queries return rows", flush=True)
            print(f"{w} trace {trace}: all {len(spec[key])} metrics, with units", flush=True)
    unmeasured = [m["name"] for m in spec["per_layer"] if m["name"] not in measured]
    assert not unmeasured, f"per-layer metrics no workload measures: {unmeasured}"
    print("per-layer: every metric measured by some workload", flush=True)

    code, out, _ = run("kg_build", 0, corrupt=True)
    assert code == 1 and not out["correct"] and out["failed"] >= 1, f"corrupted output passed: {code} {out}"
    print("corrupted output: check fails, exit 1", flush=True)
    print("selftest: ok")


if __name__ == "__main__":
    main()
