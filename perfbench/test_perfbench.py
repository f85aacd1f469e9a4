"""Self-tests of the benchmark. From the root of a checkout:

    python3 perfbench/test_perfbench.py              # all, incl. smoke runs
    python3 perfbench/test_perfbench.py LayerTest    # trace analysis only

The smoke runs build the engine if needed and make the shortest run
(`--seconds 0`: the warm-up and one measured round) of every workload at
scale 0.01, untraced and traced (about seven minutes in total).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402

ROOT = os.path.dirname(HERE)


def job(jid, span, start, end, site="", exec_site=""):
    return {"id": jid, "span": span, "start_ms": start, "end_ms": end,
            "call_site": site, "exec_call_site": exec_site, "tasks": 2, "task_ms": 10,
            "empty_tasks": 1, "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0,
            "peak_mem_b": 0, "io_read_b": 0, "io_write_b": 0}


class LayerTest(unittest.TestCase):

    def test_overlapping_jobs_give_nonnegative_driver_gap(self):
        # three jobs overlapping inside a 1 s op: their summed time (1.5 s)
        # exceeds the wall, the union (0.9 s) does not
        trace = {
            "spans": [{"id": 0, "parent": -1, "name": "curate", "module": "", "op": 0,
                       "start_ms": 0.0, "end_ms": 1000.0},
                      {"id": 1, "parent": 0, "name": "call", "module": "DedupQueries",
                       "op": 0, "start_ms": 0.0, "end_ms": 1000.0}],
            "jobs": [job(1, 1, 50.0, 650.0), job(2, 1, 100.0, 700.0), job(3, 1, 600.0, 950.0)],
            "actions": [],
        }
        m = layers.per_op(trace)[0]
        summed = sum(j["end_ms"] - j["start_ms"] for j in trace["jobs"]) / 1e3
        self.assertGreater(summed, 1.0)
        self.assertAlmostEqual(m["spark.busy_s"], 0.9)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.1)
        self.assertGreaterEqual(m["spark.driver_gap_s"], 0.0)
        # DedupQueries is not reported by name, so it folds into `other`
        self.assertEqual(m["other.jobs"], 3)
        self.assertAlmostEqual(m["other.busy_s"], 0.9)

    def test_union_of_disjoint_and_nested_intervals(self):
        self.assertAlmostEqual(layers.union_s([(0, 100), (200, 300)]), 0.2)
        self.assertAlmostEqual(layers.union_s([(0, 300), (100, 200)]), 0.3)
        self.assertEqual(layers.union_s([]), 0.0)

    def test_call_site_attribution(self):
        stack = "\n".join([
            "org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)",
            "graft.operators.Reconcile$.$anonfun$frontierFixpoint$1(Reconcile.scala:55)",
            "graft.BuildChainQueries$.laBuildPipeline(BuildChainQueries.scala:141)",
            "graft.perfbench.PerfBench$Build.$anonfun$the$3(PerfBench.scala:63)",
        ])
        self.assertEqual(layers.module_of(stack, "x"), "operators.Reconcile")
        only_bench = "graft.perfbench.PerfBench$.main(PerfBench.scala:1)\n" \
                     "graft.perfbench.Tracer.span(Trace.scala:116)"
        self.assertEqual(layers.module_of(only_bench, "BuildChainQueries"),
                         "BuildChainQueries")
        pool = ("org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2"
                "(SQLExecution.scala:329)\n"
                "java.base/java.lang.Thread.run(Thread.java:840)")
        spans = {0: {"id": 0, "parent": -1, "module": ""},
                 1: {"id": 1, "parent": 0, "module": "BuildChainQueries"},
                 2: {"id": 2, "parent": 1, "module": ""}}
        # an adaptive stage job: no caller in its own call site, so the
        # SQL execution's call site names the module
        self.assertEqual(layers.job_module(job(1, 2, 0, 1, pool, stack), spans),
                         "operators.Reconcile")
        # the benchmark consuming a result: the enclosing entry point
        self.assertEqual(layers.job_module(job(1, 2, 0, 1, pool, only_bench), spans),
                         "BuildChainQueries")
        self.assertEqual(layers.job_module(job(1, 0, 0, 1, pool, ""), spans), "other")


class SmokeTest(unittest.TestCase):
    """Every workload's shortest run at scale 0.01 must pass its oracle
    checks and emit exactly the metric names BENCHMARK.json lists."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def run_one(self, workload, trace):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", "5", "--seconds", "0", "--trace", str(trace)],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        key = "per_layer" if trace else "end_to_end"
        self.assertEqual(set(res["metrics"]), {m["name"] for m in self.spec[key]})
        for name, m in res["metrics"].items():
            unit = next(x["unit"] for x in self.spec[key] if x["name"] == name)
            self.assertEqual(m["unit"], unit, name)
        return res

    def test_workloads(self):
        for w in ["build", "daily", "search", "curate"]:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    res = self.run_one(w, trace)
                    if trace and w == "build":
                        for mod in ("operators.Reconcile", "operators.Graph",
                                    "BuildChainQueries"):
                            self.assertGreater(res["metrics"][f"{mod}.jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
