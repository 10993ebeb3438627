#!/usr/bin/env python3
"""Test of the benchmark itself, on the smoke sizes (one JVM, about a
minute per case). Run from the repo root:

    python3 perfbench/test_perfbench.py

1. Every workload prints every end-to-end metric of BENCHMARK.json, and
   its own named metrics, each with its unit; all checks pass.
2. A deliberately wrong expected digest fails its operation: error_rate
   rises above 0, the run reports correct=false and exits non-zero.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]
# "[perfbench] <workload> <metric> <number> <unit>"; other lines, such as
# the build's "[perfbench] compiling 123 Scala files", do not match
LINE = re.compile(r"^\[perfbench\] (\S+)\s+(\S+)\s+(-?[0-9][0-9.eE+-]*|NaN) (\S+)$")

NAMED = {
    "frontier-lean": ["crawl_urls_per_s", "round_s_p50", "bytes_stored_per_url"],
    "content-rich": ["crawl_urls_per_s", "round_s_p50", "bytes_stored_per_url"],
    "drain-recrawl": ["drain_s", "crawl_urls_per_s", "round_s_p50", "round_s_tail",
                      "recrawl_cycle_s_p50", "bytes_stored_per_url"],
    "analytics": ["analytics_cold_s", "analytics_cold_geomean_s", "analytics_cold_cpu_s"],
}
COMMON = ["peak_rss_mb", "error_rate", "host.steal_frac", "host.loadavg",
          "jvm.gc_s", "jvm.alloc_bytes", "jvm.jit_cpu_s", "throughput_per_s",
          "latency_s_p50"]


def run(*args):
    p = subprocess.run(RUN + ["--smoke", "--seed", "1", "--seconds", "0"] + list(args),
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    metrics = {}
    for line in p.stdout.splitlines():
        m = LINE.match(line)
        if m:
            metrics.setdefault(m.group(1), {})[m.group(2)] = (float(m.group(3)), m.group(4))
    return p, metrics, json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def test_every_metric_printed_with_unit(self):
        p, metrics, final = run("--workload", "all")
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])
        self.assertTrue(final["correct"])
        self.assertEqual(final["failed"], 0)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        for w, names in NAMED.items():
            got = metrics.get(w, {})
            for n, unit in units.items():
                self.assertIn(n, got, f"{w} lacks {n}")
                self.assertEqual(got[n][1], unit, f"{w} {n} unit")
                self.assertGreater(got[n][0], 0, f"{w} {n} is 0")
            for n in names + COMMON:
                if n == "round_s_tail" and f"round_s_tail not reported" in p.stdout:
                    continue  # under eleven rounds at smoke sizes
                self.assertIn(n, got, f"{w} lacks {n}")
                self.assertTrue(got[n][1], f"{w} {n} has no unit")
            self.assertEqual(got["error_rate"][0], 0.0, w)

    def test_wrong_digest_raises_error_rate(self):
        bad = os.path.join(ROOT, ".bench_build", "test-expected")
        shutil.rmtree(bad, ignore_errors=True)
        shutil.copytree(os.path.join(HERE, "expected"), bad)
        path = os.path.join(bad, "analytics.json")
        with open(path) as fh:
            spec = json.load(fh)
        # q1_agg is the lowest-numbered relational leaf, so smoke runs it
        spec["any"]["any"]["digest q1_agg"] = "0:0"
        with open(path, "w") as fh:
            json.dump(spec, fh)
        p, metrics, final = run("--workload", "analytics", "--expected", bad)
        self.assertNotEqual(p.returncode, 0)
        self.assertFalse(final["correct"])
        self.assertEqual(final["failed"], 1)
        self.assertGreater(metrics["analytics"]["error_rate"][0], 0.0)
        self.assertIn("CHECK FAILED", p.stdout)


if __name__ == "__main__":
    unittest.main()
