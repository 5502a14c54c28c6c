"""Noise-robust profile of the flagship linkage: per-stage executor CPU.

Host co-tenant noise on this box inflates WALL times 2-6x in hour-scale
bursts, but vCPU time accounting pauses while the host deschedules us, so
executor CPU totals (and task counts, shuffle bytes) stay comparable
across noisy and quiet windows. This tool runs the exact bench.py
addr_link_2pass flow once with event logging and prints:

 - per-stage: executor CPU s, executor run (wall-sum) s, shuffle
   read/write MB, tasks — sorted by CPU, top N
 - per-job walls and the INTER-JOB GAPS (driver planning / Py4J /
   Catalyst time — the fixed cost that dominates at sf0.1)
 - the rep's Janino compilation count (classes compiled rather than
   taken from the codegen cache: ~180 on a cold rep, 2-16 on a warm one)

Usage: python tools/cpu_profile.py [n_canonical=50000] [cpus=32]
Output: human table + one JSON line (also /tmp/cpu_profile.json).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVENT_DIR = os.path.join(tempfile.gettempdir(), "uam-cpu-events")
# job group that tags the last rep's jobs (the warm-profile window)
LAST_REP_GROUP = "uam_cpu_profile_last_rep"


def parse_events(app_id: str) -> dict:
    paths = glob.glob(os.path.join(EVENT_DIR, f"*{app_id}*", "events_*")) or glob.glob(
        os.path.join(EVENT_DIR, f"*{app_id}*")
    )
    stages: dict[int, dict] = {}
    stage_desc: dict[int, str] = {}
    jobs: list[dict] = []
    job_open: dict[int, dict] = {}
    for line in open(paths[0]):
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            stages.setdefault(
                si["Stage ID"],
                {
                    "name": si["Stage Name"][:70],
                    "cpu_s": 0.0,
                    "run_s": 0.0,
                    "sh_read_mb": 0.0,
                    "sh_write_mb": 0.0,
                    "tasks": 0,
                },
            )
        elif ev == "SparkListenerTaskEnd":
            sid = e.get("Stage ID")
            st = stages.get(sid)
            m = e.get("Task Metrics") or {}
            if st is None or not m:
                continue
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["run_s"] += m.get("Executor Run Time", 0) / 1e3
            st["sh_read_mb"] += (
                m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
                + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
            ) / 1e6
            st["sh_write_mb"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            ) / 1e6
            st["tasks"] += 1
            ti = e.get("Task Info") or {}
            if ti.get("Finish Time") and ti.get("Launch Time"):
                st["max_task_s"] = max(
                    st.get("max_task_s", 0.0),
                    (ti["Finish Time"] - ti["Launch Time"]) / 1e3,
                )
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = stages.get(si["Stage ID"])
            if st is not None and si.get("Completion Time") and si.get("Submission Time"):
                st["wall_s"] = (si["Completion Time"] - si["Submission Time"]) / 1e3
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description", "")[:60]
            job_open[e["Job ID"]] = {
                "job": e["Job ID"],
                "t0": e["Submission Time"],
                "desc": desc,
                "group": props.get("spark.jobGroup.id"),
                "stage_ids": list(e.get("Stage IDs", [])),
            }
            for sid in e.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif ev == "SparkListenerJobEnd":
            j = job_open.pop(e["Job ID"], None)
            if j is not None:
                j["t1"] = e["Completion Time"]
                j["wall_s"] = round((j["t1"] - j["t0"]) / 1e3, 2)
                jobs.append(j)
    jobs.sort(key=lambda j: j["t0"])
    gaps = []
    for a, b in zip(jobs, jobs[1:]):
        gaps.append(
            {
                "after_job": a["job"],
                "before_job": b["job"],
                "gap_s": round((b["t0"] - a["t1"]) / 1e3, 2),
            }
        )
    for sid, st in stages.items():
        if stage_desc.get(sid):
            st["name"] = stage_desc[sid]
    return {"stages": stages, "jobs": jobs, "gaps": gaps}


def main():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from uk_address_matcher_spark.clustering import cluster_predictions
    from uk_address_matcher_spark.corpus import (
        domain_token_frequencies,
        grid_documents,
    )
    from uk_address_matcher_spark.extract import extract_addresses
    from uk_address_matcher_spark.linkage import build_side_tables, link_addresses
    from uk_address_matcher_spark.session import codegen_compilations, get_spark

    os.makedirs(EVENT_DIR, exist_ok=True)
    spark = get_spark(
        app_name="uam_cpu_profile",
        master=f"local[{cpus}]",
        shuffle_partitions=int(
            os.environ.get("CPU_PROFILE_SHUFFLE", max(2 * cpus, 8))
        ),
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVENT_DIR,
            "spark.eventLog.compress": "false",
            **({"spark.driver.extraJavaOptions": "-XX:StartFlightRecording=duration=600s,filename=" + os.environ["CPU_PROFILE_JFR"] + ",settings=profile"} if os.environ.get("CPU_PROFILE_JFR") else {}),
        },
    )
    app_id = spark.sparkContext.applicationId
    canon_docs, messy_docs, _ = grid_documents(spark, n, dup_factor=1)
    canon = extract_addresses(canon_docs).cache()
    messy = extract_addresses(messy_docs).cache()
    canon.count(), messy.count()

    # CPU_PROFILE_REPS>1 repeats the identical flagship flow and reports
    # ONLY the last rep's jobs/stages — a JIT-warm profile (the bench's
    # min-of-reps methodology), vs the default cold-JVM single shot
    reps = int(os.environ.get("CPU_PROFILE_REPS", "1"))
    pred_path = os.path.join(tempfile.gettempdir(), f"uam_prof_{os.getpid()}.parquet")
    t_setup = wall = 0.0
    for rep in range(reps):
        canon.cache().count(), messy.cache().count()
        if rep == reps - 1:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", LAST_REP_GROUP)
        compiled0 = codegen_compilations(spark)
        t_setup = time.time()
        side = build_side_tables(
            spark, canon, rel_tok_freq=domain_token_frequencies(spark)
        )
        ck = None
        ck_dir = None
        if os.environ.get("CPU_PROFILE_CHECKPOINT", "0") == "1":
            # mirror tools/scaling_bench.py: durable per-pass checkpoints
            # (the north-rule configuration) — the serial/parallel split of
            # the checkpointed pipeline differs from the cache-based one
            from uk_address_matcher_spark.checkpoint import CheckpointManager

            ck_dir = os.path.join(
                tempfile.gettempdir(), f"uam_prof_ck_{os.getpid()}"
            )
            shutil.rmtree(ck_dir, ignore_errors=True)
            ck = CheckpointManager(spark, ck_dir)
        improved = link_addresses(canon, messy, side, checkpointer=ck)
        improved.select("unique_id_l", "unique_id_r", "match_weight").write.mode(
            "overwrite"
        ).parquet(pred_path)
        spark.catalog.clearCache()
        slim = spark.read.parquet(pred_path)
        n_pred = slim.count()
        clusters = cluster_predictions(slim, threshold_match_weight=5.0)
        n_clusters = clusters.count()
        wall = time.time() - t_setup
        # classes the rep compiled rather than took from the codegen cache
        rep_compilations = codegen_compilations(spark) - compiled0
    spark.stop()
    shutil.rmtree(pred_path, ignore_errors=True)
    pass_walls = {}
    if ck_dir is not None:
        try:
            with open(os.path.join(ck_dir, "_manifest.json")) as f:
                for nm, entry in json.load(f)["passes"].items():
                    pass_walls[nm] = entry.get("wall_seconds")
        except OSError:
            pass
        shutil.rmtree(ck_dir, ignore_errors=True)

    prof = parse_events(app_id)
    if reps > 1:
        # window to the LAST rep: jobs from its first job id on (job ids
        # are assigned in submission order, so no earlier rep's job can
        # leak in), and only the stages those jobs own
        first = min(j["job"] for j in prof["jobs"] if j["group"] == LAST_REP_GROUP)
        prof["jobs"] = [j for j in prof["jobs"] if j["job"] >= first]
        keep = {sid for j in prof["jobs"] for sid in j.get("stage_ids", [])}
        prof["stages"] = {
            sid: st for sid, st in prof["stages"].items() if sid in keep
        }
        prof["gaps"] = [
            g
            for g in prof["gaps"]
            if any(j["job"] == g["after_job"] for j in prof["jobs"])
            and any(j["job"] == g["before_job"] for j in prof["jobs"])
        ]
    stages = sorted(prof["stages"].items(), key=lambda kv: -kv[1]["cpu_s"])
    total_cpu = sum(s["cpu_s"] for _, s in stages)
    total_gap = sum(g["gap_s"] for g in prof["gaps"])
    print(
        f"\nwall={wall:.1f}s n_pred={n_pred} n_clusters={n_clusters} "
        f"codegen compilations={rep_compilations}"
    )
    if pass_walls:
        print("pass walls:", json.dumps(pass_walls))
    print(f"total executor CPU {total_cpu:.1f}s across {len(stages)} stages; "
          f"driver inter-job gap total {total_gap:.1f}s over {len(prof['jobs'])} jobs\n")
    print(
        f"{'cpu_s':>8} {'run_s':>8} {'wall_s':>7} {'mx_tsk':>7} {'rd_MB':>7} "
        f"{'wr_MB':>7} {'tasks':>5}  stage"
    )
    for sid, s in stages[:24]:
        print(
            f"{s['cpu_s']:8.1f} {s['run_s']:8.1f} {s.get('wall_s', 0):7.1f} "
            f"{s.get('max_task_s', 0):7.1f} {s['sh_read_mb']:7.0f} "
            f"{s['sh_write_mb']:7.0f} {s['tasks']:5d}  [{sid}] {s['name']}"
        )
    big_gaps = sorted(prof["gaps"], key=lambda g: -g["gap_s"])[:10]
    print("\nlargest inter-job gaps (driver time):")
    for g in big_gaps:
        print(f"  {g['gap_s']:6.2f}s between job {g['after_job']} -> {g['before_job']}")
    out = {
        "wall_s": round(wall, 1),
        "pass_walls": pass_walls,
        "n_predictions": n_pred,
        "total_cpu_s": round(total_cpu, 1),
        "driver_gap_s": round(total_gap, 1),
        "n_jobs": len(prof["jobs"]),
        "rep_compilations": rep_compilations,
        "top_stages": [
            {"id": sid, **{k: (round(v, 1) if isinstance(v, float) else v) for k, v in s.items()}}
            for sid, s in stages[:18]
        ],
        "gaps": big_gaps,
    }
    with open("/tmp/cpu_profile.json", "w") as f:
        json.dump(out, f, indent=1)
    print("\n" + json.dumps({k: out[k] for k in ("wall_s", "total_cpu_s", "driver_gap_s", "n_jobs", "rep_compilations")}))


if __name__ == "__main__":
    main()
