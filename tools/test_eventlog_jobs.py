#!/usr/bin/env python3
"""Unit tests for eventlog_jobs.py on a synthetic event log.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import shutil
import subprocess
import tempfile
import unittest

import eventlog_jobs as ej

SQL = ej.SQL


def exec_start(i, root, t, plan="", desc=""):
    return {"Event": SQL + "SparkListenerSQLExecutionStart",
            "executionId": i, "rootExecutionId": root, "time": t,
            "description": desc, "physicalPlanDescription": plan}


def exec_end(i, t):
    return {"Event": SQL + "SparkListenerSQLExecutionEnd",
            "executionId": i, "time": t}


def job(i, t0, t1, exec_id=None, site="s"):
    props = {} if exec_id is None else {"spark.sql.execution.id": str(exec_id)}
    return [{"Event": "SparkListenerJobStart", "Job ID": i,
             "Submission Time": t0, "Properties": props,
             "Stage Infos": [{"Stage Name": site}]},
            {"Event": "SparkListenerJobEnd", "Job ID": i,
             "Completion Time": t1}]


WRITE = ("== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand (2)\n"
         "+- WriteFiles (1)\n\n\n(2) Execute InsertIntoHadoopFsRelationCommand\n"
         "Input: []\nArguments: file:/w/raw, false, [event_date#1], Parquet\n")
COLLECT = ("== Physical Plan ==\nAdaptiveSparkPlan (3)\n+- Sort (2)\n"
           "   +- LocalTableScan (1)\n\n\n(2) Sort\n"
           "Input [2]: [check_name#5, passed#7]\nArguments: true\n")


def events():
    """One micro-batch (root 0) with a collect, a schema-inference job
    outside any execution, and a write; then a standalone execution."""
    ev = [exec_start(0, 0, 1000, desc="\nid = q\nbatch = 3"),
          exec_start(1, 0, 1100, COLLECT)]
    ev += job(0, 1110, 1150, 1) + job(1, 1150, 1180, 1)
    ev += [exec_end(1, 1200)]
    ev += job(2, 1300, 1400, None, "parquet at Sinks.scala:1")
    ev += [exec_start(2, 0, 1450, WRITE)] + job(3, 1460, 1500, 2)
    ev += [exec_end(2, 1520), exec_end(0, 1600)]
    ev += [exec_start(3, 3, 2000, WRITE)] + job(4, 2010, 2020, 3)
    ev += [exec_end(3, 2030)]
    return ev


class EventlogJobsTest(unittest.TestCase):
    def test_groups_units_under_their_micro_batch(self):
        roots = ej.summarize(*ej.parse(json.dumps(e) for e in events()))
        batch = next(r for r in roots if r["root"] == 0)
        self.assertEqual(batch["description"], "batch = 3")
        self.assertEqual(batch["wall_ms"], 600)
        self.assertEqual([r["label"] for r in batch["rows"]],
                         ["Sort [check_name, passed]",
                          "parquet at Sinks.scala:1", "write raw"])
        self.assertEqual([r["jobs"] for r in batch["rows"]], [2, 1, 1])
        self.assertEqual(batch["rows"][0]["job_walls_ms"], [40, 30])
        # gaps: root start → collect, collect end → inference job, ...
        self.assertEqual([r["gap_ms"] for r in batch["rows"]], [100, 100, 50])
        self.assertEqual(batch["gaps_ms"], 250)
        alone = next(r for r in roots if r["root"] is None)
        self.assertEqual([r["label"] for r in alone["rows"]], ["write raw"])

    def test_reads_a_rolling_zstd_directory(self):
        if shutil.which("zstd") is None:
            self.skipTest("zstd not installed")
        tmp = tempfile.mkdtemp()
        try:
            d = os.path.join(tmp, "eventlog_v2_app")
            os.mkdir(d)
            lines = [json.dumps(e) for e in events()]
            # two parts, numbered so that lexical order would misplace 10
            for n, part in ((2, lines[:6]), (10, lines[6:])):
                raw = os.path.join(d, f"events_{n}_app")
                with open(raw, "w") as f:
                    f.write("\n".join(part) + "\n")
                subprocess.run(["zstd", "-q", "--rm", raw, "-o", raw + ".zstd"],
                               check=True)
            self.assertEqual(list(ej.read_lines(d)), lines)
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
