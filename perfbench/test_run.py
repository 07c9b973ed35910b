"""Tests of the benchmark's output checks, on synthetic run reports (no JVM).

Run from the repository root: python3 perfbench/test_run.py
"""

import contextlib
import copy
import io
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)
QUERY_IDS = [m["name"][len("queries."):-len("_s")] for m in BENCH["per_layer"]
             if m["name"].startswith("queries.q")]
COUNTERS = dict.fromkeys(("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
                          "shuffle_write_mb", "shuffle_read_mb", "spill_mb"), 1)


def op(layer, name, digest, s=0.5, notes=None):
    return {"layer": layer, "name": name, "s": s, "digest": digest,
            "notes": notes or {}, "counters": COUNTERS}


def report(seed=7, trace=False):
    ops = [op("imdb", "etl", "5:11:22"), op("imdb", "readback", "5:11:22"),
           op("ml", "eval", "1:3:4", notes={"accuracy": 0.9})]
    kinds = ("cold", "untraced", "traced") if trace else ("cold", "timed")
    return {"workload": "etl_curation", "seed": seed, "cores": 4, "trace": trace,
            "session_s": 4.0, "gen_s": [0.5, 0.3, 0.2], "input_rows": {"t": 1000},
            "peak_mem_mb": 1500.0, "query_ids": QUERY_IDS, "spans_file": "spans.json",
            "passes": [{"kind": k, "run_id": f"p{i}", "wall_s": 6.0 + i, "cpu_s": 20.0,
                        "compiles": 100, "compile_s": 1.0, "ops": copy.deepcopy(ops)}
                       for i, k in enumerate(kinds)]}


EXPECTED = {"floors": {"ml.accuracy": 0.55, "similarity.recall_at_k": 0.8},
            "digests": {"etl_curation": {"7": {"imdb.etl": "5:11:22", "imdb.readback": "5:11:22",
                                           "ml.eval": "1:3:4"}}}}


def summarize(rep):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = run.summarize(rep, EXPECTED)
    return code, json.loads(out.getvalue().splitlines()[-1])


class CheckTest(unittest.TestCase):

    def test_correct_outputs_pass(self):
        for rep in (report(), report(seed=8), report(trace=True)):
            code, line = summarize(rep)
            self.assertEqual((code, line["correct"], line["failed"]), (0, True, 0))
            self.assertEqual(line["attempted"], 3 * len(rep["passes"]))

    def test_corrupted_output_is_caught(self):
        rep = report()
        rep["passes"][1]["ops"][2]["digest"] = "1:3:5"
        code, line = summarize(rep)
        self.assertEqual((code, line["correct"], line["failed"]), (1, False, 1))

    def test_disagreeing_passes_are_caught_without_a_record(self):
        rep = report(seed=8)
        rep["passes"][1]["ops"][2]["digest"] = "1:3:5"
        self.assertEqual(summarize(rep)[0], 1)

    def test_quality_floor(self):
        rep = report()
        rep["passes"][1]["ops"][2]["notes"]["accuracy"] = 0.5
        self.assertEqual(summarize(rep)[1]["failed"], 1)

    def test_readback_must_match_the_written_dataset(self):
        rep = report(seed=8)
        for p in rep["passes"]:
            p["ops"][1]["digest"] = "5:11:23"
        self.assertEqual(summarize(rep)[1]["failed"], 2)

    def test_result_line_lists_every_metric(self):
        _, line = summarize(report())
        self.assertEqual(list(line["metrics"]), [m["name"] for m in BENCH["end_to_end"]])
        _, line = summarize(report(trace=True))
        self.assertEqual(list(line["metrics"]), [m["name"] for m in BENCH["per_layer"]])
        units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
        self.assertTrue(all(v["unit"] == units[k] for k, v in line["metrics"].items()))


if __name__ == "__main__":
    unittest.main()
