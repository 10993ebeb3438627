#!/usr/bin/env python3
"""Summarize the Spark work in one decompressed Spark event log.

Prints the number of jobs, stages and tasks, the Parquet schema-inference
jobs among them, the write tasks and their task-deserialization cpu, and
per stage name (the call site Spark records) the task count, the executor
cpu and the task-deserialization cpu of its tasks. Used for the per-round
Spark cost of a crawl; see BENCH/BASELINE.md, section "engine fixed cost
per round".

    python3 scripts/eventlog_summary.py <event log> [--top N]

Spark 4 writes a rolling, zstd-compressed log
(`<eventLog.dir>/eventlog_v2_<app>/events_<n>_<app>.zstd`); decompress
its parts in order into one file first:

    ls <dir>/eventlog_v2_*/events_*.zstd | sort -V | xargs -n1 zstd -q -dc > events.json
"""
import argparse
import collections
import json


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("--top", type=int, default=15, help="stage names to list")
    args = ap.parse_args()

    jobs, stage_name, job_rdds, write_stages = {}, {}, {}, set()
    tasks = collections.defaultdict(lambda: [0, 0, 0])  # n, cpu ns, deser cpu ns
    writes = [0, 0]  # write tasks, their deser cpu ns
    n_tasks = 0
    with open(args.log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = ev["Stage IDs"]
                rdds = set()
                for st in ev["Stage Infos"]:
                    stage_name[st["Stage ID"]] = st["Stage Name"]
                    st_rdds = {(r["Name"], json.loads(r.get("Scope") or "{}").get("name"))
                               for r in st["RDD Info"]}
                    if ("MapPartitionsRDD", "WriteFiles") in st_rdds:
                        write_stages.add(st["Stage ID"])
                    rdds |= st_rdds
                job_rdds[jid] = rdds
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = tasks[stage_name.get(ev["Stage ID"], "?")]
                t[0] += 1
                t[1] += m.get("Executor CPU Time", 0)
                t[2] += m.get("Executor Deserialize CPU Time", 0)
                n_tasks += 1
                if ev["Stage ID"] in write_stages:
                    writes[0] += 1
                    writes[1] += m.get("Executor Deserialize CPU Time", 0)

    # Parquet footer inference (ParquetUtils.mergeSchemasInParallel) is a
    # one-stage job: parallelize(file statuses).mapPartitions(read footers)
    footer_job = {("ParallelCollectionRDD", "parallelize"), ("MapPartitionsRDD", "mapPartitions")}
    inference = [j for j, s in jobs.items()
                 if len(s) == 1 and job_rdds[j] == footer_job
                 and stage_name[s[0]].startswith("parquet at ")]
    cpu = sum(t[1] for t in tasks.values()) / 1e9
    deser = sum(t[2] for t in tasks.values()) / 1e9
    print(f"jobs {len(jobs)}  stages {len(stage_name)}  tasks {n_tasks}  "
          f"schema-inference jobs {len(inference)}")
    print(f"task cpu {cpu:.3f} s  task-deserialization cpu {deser:.3f} s")
    print(f"write tasks {writes[0]}  their deserialization cpu {writes[1] / 1e9:.3f} s "
          f"({writes[1] / 1e6 / max(1, writes[0]):.2f} ms/task)")
    print(f"{'stage name':48} {'tasks':>6} {'cpu s':>8} {'deser s':>8} {'deser ms/task':>13}")
    for name, (n, c, d) in sorted(tasks.items(), key=lambda kv: -kv[1][2])[:args.top]:
        print(f"{name[:48]:48} {n:6d} {c / 1e9:8.3f} {d / 1e9:8.3f} {d / 1e6 / n:13.2f}")


if __name__ == "__main__":
    main()
