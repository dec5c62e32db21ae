"""Per-JOB breakdown of one query via the Spark event log.

Creates the engine's session (session.get_spark) with the event log
on, runs the query once at the given sf (after a sf0.001 warm
pass), then parses the event log into a job table: job id, description,
wall ms, number of stages/tasks. This is the 'which of the 20 actions
inside this lifecycle verb is slow' tool the Spark UI would be.

Usage: python scripts/jobprof.py <query> [sf_dir]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/spark-events-jobprof"




def _next_job_id(sc) -> int:
    v = sc._jsc.sc().dagScheduler().nextJobId()
    try:
        return int(v)
    except (TypeError, ValueError):
        return int(v.get())


def main() -> int:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)

    # The engine's session, built by get_spark() itself so this profile
    # runs with exactly its settings; the event log is switched on at JVM
    # launch, the one place it can be added without copying them.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir={EVDIR}"
        " --conf spark.eventLog.compress=false"
        " --conf spark.eventLog.rolling.enabled=false pyspark-shell"
    )
    from automated_dow30_earnings_reports_spark.session import get_spark

    spark = get_spark("jobprof")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    fn = qs[name]
    fn(spark, "/root/testdata/sf0.001").collect()  # warm codegen

    mark = _next_job_id(spark.sparkContext)
    t0 = time.time()
    fn(spark, sf_dir).collect()
    wall = time.time() - t0
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(2)

    jobs: dict[int, dict] = {}
    stage_to_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    ev_files = []
    for dirpath, _dirs, files in os.walk(EVDIR):
        for f in files:
            if not f.startswith("appstatus"):
                ev_files.append(os.path.join(dirpath, f))
    for path in ev_files:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                k = ev.get("Event")
                if k == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    if jid < mark:
                        continue
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    ) or (ev.get("Properties") or {}).get("callSite.short", "")
                    jobs[jid] = {
                        "t0": ev["Submission Time"],
                        "desc": desc[:90],
                        "stages": len(ev.get("Stage Infos", [])),
                        "tasks": sum(
                            s.get("Number of Tasks", 0)
                            for s in ev.get("Stage Infos", [])
                        ),
                    }
                    for s in ev.get("Stage Infos", []):
                        stage_to_job[s["Stage ID"]] = jid
                elif k == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in jobs:
                        jobs[jid]["t1"] = ev["Completion Time"]
                elif k == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = si["Stage ID"]
                    jid = stage_to_job.get(sid)
                    if jid is None:
                        continue
                    stages[sid] = {
                        "job": jid,
                        "name": si.get("Stage Name", "")[:60],
                        "ms": si.get("Completion Time", 0)
                        - si.get("Submission Time", 0),
                        "tasks": si.get("Number of Tasks", 0),
                    }

    print(f"query={name} wall={wall:.2f}s jobs={len(jobs)}")
    tot = 0
    t_prev = None
    for jid in sorted(jobs):
        j = jobs[jid]
        ms = j.get("t1", j["t0"]) - j["t0"]
        gap = (j["t0"] - t_prev) if t_prev is not None else 0
        t_prev = j.get("t1", j["t0"])
        tot += ms
        print(
            f"  job {jid:4d}  {ms:6d}ms  gap{gap:6d}ms  stages={j['stages']}"
            f" tasks={j['tasks']:4d}  {j['desc']}"
        )
    print(f"  sum(job ms)={tot} wall_ms={int(wall*1000)} (gap = driver-side time before job)")
    big = sorted(stages.items(), key=lambda kv: -kv[1]["ms"])[:12]
    print("  slowest stages:")
    for sid, s in big:
        print(f"    stage {sid:4d} job {s['job']:4d} {s['ms']:6d}ms tasks={s['tasks']:3d}  {s['name']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
