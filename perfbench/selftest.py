#!/usr/bin/env python3
"""Self-test of the graft benchmark on tiny generated inputs.

    python3 perfbench/selftest.py

Runs every workload briefly with tiny inputs and asserts that
* each run exits 0 with a correct, parseable summary as its last line,
  carrying every end-to-end metric with its unit (--trace 0),
* a traced run carries every summary per-layer metric and writes the
  full per-layer table and the span artifact (--trace 1),
* a planted wrong output (one row dropped from a checked query result)
  is caught: the run reports correct=false, counts failures and exits
  nonzero.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import run  # noqa: E402

TINY = {
    "climate_products": {"events": {"stations": 40, "obs_per_station": 30, "days": 30}},
    "series_kernels": {"events": {"stations": 8, "obs_per_station": 120, "days": 30}},
    "corpus_dedup": {
        "documents": {"docs": 200, "near_dup_share": 0.15, "hot_bucket": 60},
        "embeddings": {"vecs": 200, "near_dup_share": 0.1}},
    "cron_ingest": {"drops": {"stations": 40, "obs_per_station_day": 2, "days": 30}},
}


def bench(spec_path, workload, *extra):
    work = os.path.join(BENCH, ".work", "selftest", workload)
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "2", "--spec", spec_path,
                        "--work", work] + list(extra),
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    summary = json.loads(lines[-1]) if lines else None
    return p.returncode, summary, work, p.stderr


def main():
    with open(os.path.join(BENCH, "workloads.json")) as f:
        specs = json.load(f)
    for name, inputs in TINY.items():
        specs[name]["inputs"] = inputs
    os.makedirs(os.path.join(BENCH, ".work", "selftest"), exist_ok=True)
    spec_path = os.path.join(BENCH, ".work", "selftest", "workloads.json")
    with open(spec_path, "w") as f:
        json.dump(specs, f)
    failures = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for name in TINY:
        rc, s, _, err = bench(spec_path, name, "--trace", "0")
        expect(rc == 0 and s and s["correct"] and s["failed"] == 0 and s["attempted"] >= 1,
               f"{name}: clean run, correct summary")
        if rc != 0:
            sys.stderr.write(err[-3000:])
        got = (s or {}).get("metrics", {})
        expect(set(got) == set(run.END_TO_END) and
               all(got[k]["unit"] == u and isinstance(got[k]["value"], (int, float))
                   for k, u in run.END_TO_END.items()),
               f"{name}: every end-to-end metric printed with its unit")

    for name in ("cron_ingest", "climate_products"):
        rc, s, work, _ = bench(spec_path, name, "--trace", "1")
        got = (s or {}).get("metrics", {})
        expect(rc == 0 and set(got) == set(run.PER_LAYER_SUMMARY) and
               all(got[k]["unit"] == run.PER_LAYER_UNITS[k] for k in got),
               f"{name} traced: every summary per-layer metric printed with its unit")
        with open(os.path.join(work, "layers.json")) as f:
            table = json.load(f)
        expect(set(table) == set(run.PER_LAYER_UNITS), f"{name} traced: full per-layer table written")
        with open(os.path.join(work, "trace.json")) as f:
            trace = json.load(f)
        expect(trace["spans"] and trace["ops"] and
               all({"name", "start_ms", "end_ms", "parent", "op"} <= set(x) for x in trace["spans"]),
               f"{name} traced: span artifact with name/start/end/parent/op")
        expect(table["exec.jobs"]["value"] > 0 and table["trace.traced_p50_s"]["value"] > 0 and
               table["trace.untraced_p50_s"]["value"] > 0,
               f"{name} traced: jobs recorded, traced and untraced latencies both measured")
        if name == "cron_ingest":
            expect(table["stream.batches"]["value"] > 0, f"{name} traced: streaming progress recorded")

    rc, s, _, _ = bench(spec_path, "climate_products", "--trace", "0", "--plant-wrong")
    expect(rc != 0 and s is not None and s["correct"] is False and s["failed"] >= 1,
           "planted wrong output is caught (correct=false, failed>0, nonzero exit)")

    print("selftest " + ("FAILED: " + "; ".join(failures) if failures else "passed"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
