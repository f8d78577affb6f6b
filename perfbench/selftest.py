"""Self-tests of the benchmark's own machinery.

    python3 perfbench/run.py --selftest

Checks that metric and workload names are well formed and agree with
BENCHMARK.json, that a percentile is refused unless 10 samples lie beyond
it, that a planted throwing stage counts as failed and never as a fast
tick, and that the table digest ignores row order and last-bit float
drift but sees a changed value. The last two run the harness in a JVM.
"""

import json
import os


def check(cond, what):
    if not cond:
        raise AssertionError(what)
    print(f"ok - {what}")


def main(run):
    bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    names = ([w["name"] for w in bench["workloads"]] + [m["name"] for m in bench["end_to_end"]]
             + [m["name"] for m in bench["per_layer"]])
    check(all(run.NAME_RE.match(n) for n in names), "names use only [A-Za-z0-9_.-]")
    check(set(w["name"] for w in bench["workloads"]) == set(run.METRICS["workloads"]),
          "BENCHMARK.json workloads match metrics.json")
    check([m["name"] for m in bench["end_to_end"]] == list(run.METRICS["end_to_end"])
          and [m["name"] for m in bench["per_layer"]] == list(run.METRICS["per_layer"]),
          "BENCHMARK.json metrics match metrics.json")
    run.check_names()

    def refused(values, pct):
        try:
            run.percentile(values, pct)
            return False
        except ValueError:
            return True

    check(refused(list(range(99)), 90) and not refused(list(range(100)), 90),
          "p90 needs 100 samples (10 beyond it)")
    check(refused(list(range(19)), 50) and run.percentile(list(range(21)), 50) == 10,
          "p50 needs 20 samples and is the median")

    classpath = run.build(run.source_hash())
    work = os.path.join(run.SCRATCH, "selftest")
    res = run.harness(classpath, ["--selftest", work], "selftest.log", work)
    check(res["digest"]["order_insensitive"], "digest ignores row order")
    check(res["digest"]["ulp_insensitive"], "digest ignores last-bit float drift")
    check(res["digest"]["sees_change"], "digest sees a changed value")

    planted = res["planted"]
    check(planted["full"]["error"] is not None, "the planted stage throws")
    slow_ok = dict(planted, full={"ms": [30000.0], "error": None},
                   reuse={"ms": [200.0], "error": None}, setup_ms=5000.0,
                   written_bytes=1048576, retained_heap_bytes=1048576,
                   stages={"ok": {"rows": 100, "digest_rows": 100, "digest": "d", "reused": True}})
    recs = [planted, slow_ok]
    expected = {"ok": {"rows": 100, "digest": "d"}}
    scores = [run.score(r, expected) for r in recs]
    check(scores == [(6, 6), (2, 0)], "the planted tick fails, the slow one passes")
    check(run.end_to_end(run.passing(recs, scores), [])["tick_s"] == 30.0,
          "a fast failing tick never feeds tick_s")
    print("ALL OK")
