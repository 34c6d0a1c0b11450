#!/usr/bin/env python3
"""Summarize a Spark event log into jobs per SQL execution, their walls, and
the driver gaps between executions.

Usage: eventlog_jobs.py <event log>

<event log> is a plain JSON-lines event log file, a compressed one
(`.zstd`, decoded with the `unzstd` command), or a rolling v2 directory
(`eventlog_v2_<app>/events_<n>_<app>[.zstd]`, parts read in order).

Units are the leaf SQL executions (an execution no other execution nests
under) plus the jobs that run outside any leaf execution (parquet schema
inference, for one, runs as a job of the micro-batch itself). Units are grouped under their root execution: a
streaming micro-batch is one root and every write or collect of its
foreachBatch is one unit under it. For each unit the report gives

  start_s   seconds since the first unit started
  gap_ms    driver time since the previous unit of the same root ended
            (listings, footer reads, planning: work that runs no job)
  wall_ms   the unit's own wall
  jobs      jobs it launched, and their walls in ms
  label     its plan's root node ('write <dir>' for a file write), else
            the call site of its first job

and each root gets a header with its wall, units, jobs and summed gaps.

To produce a log without changing the program, pass the event-log conf
through the JVM, e.g.

  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
    -Dspark.eventLog.dir=file:///tmp/evlog" python3 perfbench/run.py ...
"""
import argparse
import json
import os
import re
import subprocess

SQL = "org.apache.spark.sql.execution.ui."


def log_parts(path):
    """The files of one event log, in order."""
    if not os.path.isdir(path):
        return [path]

    def part_no(name):
        return int(name.split("_")[1])
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(names, key=part_no)]


def read_lines(path):
    for part in log_parts(path):
        if part.endswith(".zstd"):
            text = subprocess.run(["unzstd", "-c", part], check=True,
                                  capture_output=True).stdout.decode()
        else:
            with open(part) as f:
                text = f.read()
        yield from text.splitlines()


def plan_label(plan):
    """The root node of a formatted physical plan, under AdaptiveSparkPlan:
    'write <dir>' for a file write, else the node and its output columns."""
    lines = plan.splitlines()
    node = ""
    for ln in lines[1:]:
        node = re.sub(r"\s*\(\d+\)$", "", ln.strip().lstrip("+-:* "))
        if node and node != "AdaptiveSparkPlan":
            break
    if not node:
        return ""
    # the node's detail block: "(N) <node>" then Output/Arguments lines
    block = []
    for i, ln in enumerate(lines):
        if re.fullmatch(r"\(\d+\) " + re.escape(node), ln.strip()):
            block = lines[i + 1:i + 4]
            break
    if "InsertIntoHadoopFsRelationCommand" in node:
        for ln in block:
            m = re.match(r"Arguments: (\S+?),", ln)
            if m:
                return "write " + os.path.basename(m.group(1).rstrip("/"))
    for ln in block:
        m = re.match(r"(?:Output|Input) \[\d+\]: \[(.*)\]$", ln)
        if m:
            cols = [re.sub(r"#\d+L?$", "", c.strip().split(" AS ")[-1])
                    for c in m.group(1).split(", ")]
            return f"{node} [{', '.join(cols)}]"
    return node


def describe(text):
    """A micro-batch's 'batch = N' line, else the first non-empty line."""
    lines = [ln.strip() for ln in text.splitlines() if ln.strip()]
    return next((ln for ln in lines if ln.startswith("batch =")),
                lines[0] if lines else "")


def parse(lines):
    """(executions, jobs) keyed by id."""
    execs, jobs = {}, {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == SQL + "SparkListenerSQLExecutionStart":
            execs[e["executionId"]] = {
                "id": e["executionId"],
                "root": e.get("rootExecutionId", e["executionId"]),
                "start": e["time"], "end": None,
                "description": describe(e.get("description", "")),
                "plan": plan_label(e.get("physicalPlanDescription", ""))}
        elif kind == SQL + "SparkListenerSQLExecutionEnd":
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            exec_id = e.get("Properties", {}).get("spark.sql.execution.id")
            stages = e.get("Stage Infos", [])
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start": e["Submission Time"], "end": None,
                "exec": int(exec_id) if exec_id is not None else None,
                "site": stages[0]["Stage Name"] if stages else ""}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
    return execs, jobs


def summarize(execs, jobs):
    """Roots, each with its units in start order."""
    nested = {x["root"] for x in execs.values() if x["root"] != x["id"]}
    units = []
    for x in execs.values():
        if x["id"] in nested:
            continue
        own = sorted((j for j in jobs.values() if j["exec"] == x["id"]),
                     key=lambda j: j["start"])
        units.append({"root": x["root"] if x["root"] in nested else None,
                      "start": x["start"],
                      "end": x["end"] or x["start"], "jobs": own,
                      "label": x["plan"] or (own[0]["site"] if own else "")})
    for j in jobs.values():
        if j["exec"] in nested:
            # launched directly by a micro-batch's thread, outside its
            # writes and collects (parquet schema inference, for one); its
            # call site is the stream's start()
            root = j["exec"]
        elif j["exec"] is None or j["exec"] not in execs:
            # outside any execution: belongs to the root whose span holds
            # it, else stands alone
            root = next((r["id"] for r in execs.values()
                         if r["id"] in nested and r["start"] <= j["start"]
                         and (r["end"] is None or j["start"] <= r["end"])),
                        None)
        else:
            continue
        units.append({"root": root, "start": j["start"],
                      "end": j["end"] or j["start"], "jobs": [j],
                      "label": j["site"]})
    units.sort(key=lambda u: u["start"])
    t0 = units[0]["start"] if units else 0
    roots = {}
    for u in units:
        roots.setdefault(u["root"], []).append(u)
    out = []
    for root, us in roots.items():
        rx = execs.get(root) if root in nested else None
        prev_end = rx["start"] if rx else None
        rows = []
        for u in us:
            gap = u["start"] - prev_end if prev_end is not None else 0
            prev_end = max(prev_end or u["end"], u["end"])
            rows.append({
                "start_s": round((u["start"] - t0) / 1000.0, 3),
                "gap_ms": max(gap, 0), "wall_ms": u["end"] - u["start"],
                "jobs": len(u["jobs"]),
                "job_walls_ms": [(j["end"] or j["start"]) - j["start"]
                                 for j in u["jobs"]],
                "label": u["label"]})
        out.append({
            "root": root if rx else None,
            "description": rx["description"] if rx else "",
            "wall_ms": ((rx["end"] or us[-1]["end"]) - rx["start"]) if rx
            else None,
            "units": len(rows), "jobs": sum(r["jobs"] for r in rows),
            "gaps_ms": sum(r["gap_ms"] for r in rows), "rows": rows})
    return out


def render(roots):
    for r in roots:
        if r["root"] is None:
            print(f"== outside any nesting execution: {r['units']} units, "
                  f"{r['jobs']} jobs")
        else:
            print(f"== root {r['root']} {r['description']!r}: wall "
                  f"{r['wall_ms']} ms, {r['units']} units, {r['jobs']} jobs, "
                  f"driver gaps {r['gaps_ms']} ms")
        for row in r["rows"]:
            walls = ",".join(str(w) for w in row["job_walls_ms"])
            print(f"  {row['start_s']:9.3f}s gap {row['gap_ms']:6d} ms "
                  f"wall {row['wall_ms']:6d} ms  jobs {row['jobs']:2d} "
                  f"[{walls}]  {row['label']}")
    total_jobs = sum(r["jobs"] for r in roots)
    nest = [r for r in roots if r["root"] is not None]
    print(f"== {len(roots)} groups, {total_jobs} jobs; "
          f"{len(nest)} nesting roots with "
          f"{sum(r['jobs'] for r in nest)} jobs and "
          f"{sum(r['gaps_ms'] for r in nest)} ms of driver gaps")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    render(summarize(*parse(read_lines(ap.parse_args(argv).log))))


if __name__ == "__main__":
    main()
