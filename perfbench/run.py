#!/usr/bin/env python3
"""Linkage benchmark for uk_address_matcher_spark.

    python3 perfbench/run.py --workload grid_link --seed 1 --seconds 5 --trace 0

Runs one workload through the library's public API on ``local[<cores>]``
in this process, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. Human-readable lines
(per-metric values with units, sample counts, failed_frac, host load and
steal) come before it.

Workloads (the library receives only the generated frames):

- ``grid_link``: build_side_tables -> link_addresses (in-memory passes)
  -> slim parquet write -> cluster_predictions, on the grid corpus. The
  old flagship pipeline at a size that repeats within a run.
- ``skew_link``: the same pipeline with a CheckpointManager (durable
  passes, fresh directory per unit) on the grid corpus passed through
  corpus.skew_postcodes, so hot postcodes multiply the blocked pairs
  that scoring must reject. The only workload whose linkage passes are
  checkpointed.

On both, the slim parquet write of the predictions goes through a
CheckpointManager (the pass boundary before clustering), so the
``checkpoint`` layer is reached by every workload: once per unit on
grid_link, five times on skew_link.

One *unit* is one full pipeline run over the workload's inputs. Set-up
(session, corpus generation, extraction, and one untimed warm-up unit)
is reported as ``setup_s``; units then repeat until ``--seconds`` have
passed and ``docs_per_s`` is the input docs over the median unit wall.
A unit takes 10-15 s on 4 cores, so at the benchmark's 5 s an untraced run
times one unit and a traced run untraced, traced, untraced units.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables the
Spark event log, alternates untraced units with traced ones and reports
per-layer metrics (perfbench/eventlog.py): a traced unit composes the
same pipeline from each layer's public function, sets the job
description around every call, and materialises each layer's output so
its executor work is attributed to it. ``trace_overhead_s`` is the cost
of that traced composition: the median traced unit wall minus the median
untraced one, both with the event log on (untraced units bracket the
traced ones). It is not the cost of the event log alone.

Correctness, checked on every unit: prediction count, an exact
``sum(match_weight)`` checksum and the clustered-id count equal the
goldens in perfbench/goldens.json (default seed and size) or else the
warm-up unit's; ``pairwise_f1`` is at least the workload's ``f1_floor``
at every seed. A unit that raises or fails a check is counted in
``failed`` and the run goes on.

Everything the run writes (Spark local dirs, temp files, parquet,
checkpoints, event log) lives under ``.perfbench_run/<pid>`` in the
checkout and is removed on exit. So shuffle files go to the checkout's
disk even where get_spark would pick /dev/shm for them (see README).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1
SPARK_DRIVER_MEMORY = "2g"
PRED_COLS = ("unique_id_l", "unique_id_r", "match_weight")
SLIM = "predictions_slim"

WORKLOADS = {
    "grid_link": {"canonical": 2000, "skew": None, "durable": False, "f1_floor": 0.99},
    # skew: (hot postcodes, share of postcodes remapped into them).
    # f1_floor: seeds 201-205 and 301-310 gave 0.983-0.995, so a wrong
    # output on the checkpointed path fails the check at any seed
    "skew_link": {"canonical": 2000, "skew": (1, 0.25), "durable": True, "f1_floor": 0.975},
}


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc (falls back to now)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
        return btime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


def host_snapshot() -> dict:
    """/proc/loadavg and the aggregate /proc/stat cpu counters."""
    snap = {"loadavg": None, "cpu": None}
    try:
        with open("/proc/loadavg") as f:
            snap["loadavg"] = " ".join(f.read().split()[:3])
        with open("/proc/stat") as f:
            snap["cpu"] = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        pass
    return snap


def steal_share(a: dict, b: dict) -> float | None:
    if not a["cpu"] or not b["cpu"] or len(a["cpu"]) < 8:
        return None
    total = sum(b["cpu"][:8]) - sum(a["cpu"][:8])
    return (b["cpu"][7] - a["cpu"][7]) / total if total > 0 else 0.0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, canonical: int | None, run_dir: str):
        self.name = workload
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.n = canonical or self.wl["canonical"]
        self.n_docs = 2 * self.n
        self.run_dir = run_dir
        self.spark = None
        self.jvm = None
        self.spans: list[tuple[str, float, float]] = []
        self.log: list[str] = []

    # -- session ------------------------------------------------------------
    def start(self) -> None:
        from uk_address_matcher_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            # -Xmx only: the heap grows with what the pipeline touches, so
            # peak_rss_mb follows the cached frames, execution memory and
            # broadcasts that live in the driver heap in local mode
            "spark.driver.memory": SPARK_DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            events = os.path.join(self.run_dir, "events")
            os.makedirs(events)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + events,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            app_name=f"perfbench_{self.name}",
            master=f"local[{cores}]",
            shuffle_partitions=max(2 * cores, 8),
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        self.cores = cores

    def stop(self) -> None:
        """Stop Spark, then end the JVM (it exits when its stdin closes)
        and wait for it."""
        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()

    # -- inputs ---------------------------------------------------------------
    def build_inputs(self) -> None:
        """Grid corpus with canonical ids re-keyed from the seed (so the
        seed picks every record's noise class, postcode typo and media
        spans), extracted and written to parquet."""
        from pyspark.sql import functions as F

        from uk_address_matcher_spark.corpus import (
            grid_canonical_flat,
            messy_from_canonical,
            skew_postcodes,
            to_documents,
        )
        from uk_address_matcher_spark.extract import extract_addresses

        spark = self.spark
        canon = grid_canonical_flat(spark, self.n).withColumn(
            "unique_id",
            F.concat(F.lit(f"c{self.seed}_"), F.expr("substring(unique_id, 2)")),
        )
        if self.wl["skew"]:
            n_hot, share = self.wl["skew"]
            canon = skew_postcodes(canon, n_hot=n_hot, hot_share=share)
        messy, labels = messy_from_canonical(canon)
        p = spark.sparkContext.defaultParallelism
        self.inputs = {}
        for key, frame in (
            ("canonical", extract_addresses(to_documents(canon).repartition(p))),
            ("messy", extract_addresses(to_documents(messy).repartition(p))),
            ("labels", labels.repartition(p)),
        ):
            path = os.path.join(self.run_dir, "input", key)
            frame.write.parquet(path)
            self.inputs[key] = path

    def _read(self, key):
        return self.spark.read.parquet(self.inputs[key])

    # -- units ------------------------------------------------------------
    def unit(self, traced: bool) -> dict:
        """Run one unit; return its wall, outputs and (traced) rows."""
        ckpt = os.path.join(self.run_dir, "ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        t0 = time.time()
        rows = self._pipeline_traced(ckpt) if traced else self._pipeline(ckpt)
        t1 = time.time()
        res = {"wall": t1 - t0, "window": (t0, t1), "rows": rows}
        res["output"] = self._output_signature(rows)
        if traced:
            res["rows"]["checkpoint_mb"] = dir_mb(ckpt)
        self.spark.catalog.clearCache()
        return res

    def _side_tables(self, canon):
        from uk_address_matcher_spark.corpus import domain_token_frequencies
        from uk_address_matcher_spark.linkage import build_side_tables

        return build_side_tables(
            self.spark, canon, rel_tok_freq=domain_token_frequencies(self.spark)
        )

    def _pipeline(self, ckpt: str) -> dict:
        from uk_address_matcher_spark.checkpoint import CheckpointManager
        from uk_address_matcher_spark.linkage import link_addresses

        canon, messy = self._read("canonical"), self._read("messy")
        side = self._side_tables(canon)
        cm = CheckpointManager(self.spark, ckpt)
        pred = link_addresses(canon, messy, side, checkpointer=cm if self.wl["durable"] else None)
        return self._write_and_cluster(pred, cm, nullcontext)

    def _write_and_cluster(self, pred, cm, layer) -> dict:
        """Write the slim predictions through ``cm`` (every workload's
        pass boundary before clustering), then cluster them."""
        from uk_address_matcher_spark.clustering import cluster_predictions

        slim = cm.checkpoint(pred.select(*PRED_COLS), SLIM)
        # frees the pipeline's caches before clustering reads the slim
        # projection, as the production pass boundary does
        self.spark.catalog.clearCache()
        with layer("clustering"):
            clustered = cluster_predictions(slim, threshold_match_weight=5.0).count()
        return {"clustering": clustered}

    @contextmanager
    def _layer(self, name: str):
        sc = self.spark.sparkContext
        caller = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"layer:{name}")
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            sc.setJobDescription(caller)

    def _pipeline_traced(self, ckpt: str) -> dict:
        """link_addresses + link_cleaned composed from the layer functions,
        each layer's output materialised under its own job description.

        This mirrors linkage.link_addresses/link_cleaned (side tagging,
        score_pairs arguments, the prune constants, assume_pruned) and must
        be changed along with them: the untraced units run the library's
        own functions, so a drift here moves only the per-layer figures and
        is caught by the output check only if it changes the output. It
        adds work the library does not do (the blocked pairs and the pass-1
        candidates are materialised, best_changed_frac is a join), which
        trace_overhead_s includes."""
        from pyspark.sql import functions as F

        from uk_address_matcher_spark.blocking import block
        from uk_address_matcher_spark.cleaning import clean_addresses
        from uk_address_matcher_spark.evaluate import top_predictions
        from uk_address_matcher_spark.scoring import attach_display_columns, score_pairs
        from uk_address_matcher_spark.second_pass import (
            PRUNE_MATCH_WEIGHT_THRESHOLD,
            PRUNE_TOP_N,
            improve_predictions_using_distinguishing_tokens,
        )

        rows: dict = {}
        timed = make_timed_checkpointer(self.spark, ckpt, self.spans)
        cm = timed if self.wl["durable"] else None

        def materialise(df, name):
            if cm is None:
                df = df.cache()
                return df, df.count()
            out = cm.checkpoint(df, name)
            return out, cm.rows[name]

        canon, messy = self._read("canonical"), self._read("messy")
        with self._layer("side_tables"):
            side = self._side_tables(canon)
        rows["side_tables"] = (
            side.rel_tok_freq.count() + side.numeric_tf.count() + len(side.common_end_tokens)
        )
        with self._layer("cleaning"):
            tagged = canon.withColumn("__side", F.lit("c")).unionByName(
                messy.withColumn("__side", F.lit("m")), allowMissingColumns=True
            )
            cleaned = clean_addresses(tagged, side.rel_tok_freq, side.common_end_tokens)
            cleaned, rows["cleaning"] = materialise(cleaned, "cleaned_all")
        cl = cleaned.filter(F.col("__side") == "c").drop("__side")
        cr = cleaned.filter(F.col("__side") == "m").drop("__side")
        with self._layer("blocking"):
            pairs = block(cl, cr).cache()
            rows["blocking"] = pairs.count()
        with self._layer("scoring"):
            pred = score_pairs(
                pairs,
                cl,
                cr,
                side.numeric_tf,
                threshold_match_weight=-50.0,
                retain_matching_columns=False,
                attach_display=False,
                prune_top_n=(PRUNE_MATCH_WEIGHT_THRESHOLD, PRUNE_TOP_N),
            )
            pred = attach_display_columns(pred, cl, cr, retain_matching_columns=False)
            pred, rows["scoring"] = materialise(pred, "pass1_candidates")
        pairs.unpersist()
        with self._layer("second_pass"):
            improved = improve_predictions_using_distinguishing_tokens(
                pred, checkpointer=cm, assume_pruned=True
            )
            improved, rows["second_pass"] = materialise(improved, "predictions_pass2")
        b1 = top_predictions(pred).select("unique_id_r", F.col("predicted_unique_id").alias("p1"))
        b2 = top_predictions(improved).select("unique_id_r", F.col("predicted_unique_id").alias("p2"))
        changed = b1.join(b2, "unique_id_r").agg(
            F.count("*").alias("n"), F.sum((F.col("p1") != F.col("p2")).cast("int")).alias("c")
        ).collect()[0]
        rows["best_changed_frac"] = (changed["c"] or 0) / changed["n"] if changed["n"] else 0.0
        rows.update(self._write_and_cluster(improved, timed, self._layer))
        rows["checkpoint"] = sum(timed.rows.values())
        return rows

    def _output_signature(self, rows: dict) -> dict:
        from pyspark.sql import functions as F

        slim = self.spark.read.parquet(os.path.join(self.run_dir, "ckpt", SLIM))
        # exact, order-independent checksum: each weight is rounded to a
        # fixed decimal before summing
        r = slim.agg(
            F.count("*").alias("n"),
            F.sum(F.col("match_weight").cast("decimal(38,9)")).alias("s"),
        ).collect()[0]
        return {"predictions": r["n"], "checksum": str(r["s"]), "clustered_ids": rows["clustering"]}

    def pairwise_f1(self) -> float:
        from uk_address_matcher_spark.evaluate import pairwise_f1

        slim = self.spark.read.parquet(os.path.join(self.run_dir, "ckpt", SLIM))
        return pairwise_f1(self._read("labels"), slim)["f1"]

    # -- run ----------------------------------------------------------------
    def golden(self) -> dict | None:
        if self.seed != DEFAULT_SEED or self.n != self.wl["canonical"]:
            return None
        with open(os.path.join(HERE, "goldens.json")) as f:
            return json.load(f).get(self.name)

    def run(self, t_process: float) -> dict:
        self.start()
        self.phases = {"session": time.time() - t_process}
        self.build_inputs()
        self.phases["inputs"] = time.time() - t_process - self.phases["session"]
        expected = self.golden()
        f1, f1_ok = None, True
        units, traced = [], []
        attempted = failed = 0
        i = 0
        while True:
            is_traced = self.trace and i > 0 and i % 2 == 0
            try:
                res = self.unit(traced=is_traced)
            except Exception:
                res = None
                self.log.append(f"unit {i} raised:\n" + traceback.format_exc())
            if i == 0:
                # the warm-up unit is untimed and part of set-up; the F1
                # evaluation below is in neither set-up nor a unit wall
                setup_s = time.time() - t_process
                self.phases["warm_up"] = setup_s - self.phases["session"] - self.phases["inputs"]
            if res is not None:
                if f1 is None:
                    # outputs are checked identical below, so one F1 holds for all
                    f1 = self.pairwise_f1()
                    floor = self.wl["f1_floor"]
                    f1_ok = floor is None or f1 >= floor
                    if not f1_ok:
                        self.log.append(f"pairwise_f1 {f1:.6f} < {floor}")
                if expected is None:
                    expected = res["output"]
                res["ok"] = f1_ok and res["output"] == expected
                if not res["ok"]:
                    self.log.append(f"unit {i}: output {res['output']} != expected {expected}")
            if i == 0:
                t_loop = time.time()
            else:
                attempted += 1
                failed += res is None or not res["ok"]
                if res is not None:
                    (traced if is_traced else units).append(res)
                elapsed = time.time() - t_loop
                # a traced run ends on an untraced unit, so untraced units
                # bracket the traced ones and warm-up drift cancels out of
                # trace_overhead_s
                enough = units and (not self.trace or (traced and len(units) > len(traced)))
                if elapsed >= self.seconds and (enough or attempted >= 4):
                    break
            i += 1
        self.expected = expected
        peak_rss = vm_hwm_mb(self.jvm.pid) + vm_hwm_mb(os.getpid())
        self.stop()

        return {
            "attempted": attempted,
            "failed": failed,
            "units": units,
            "traced": traced,
            "setup_s": setup_s,
            "pairwise_f1": f1,
            "peak_rss_mb": peak_rss,
        }

    def event_log_path(self) -> str:
        d = os.path.join(self.run_dir, "events")
        (name,) = [f for f in os.listdir(d) if not f.startswith(".")]
        return os.path.join(d, name)


def make_timed_checkpointer(spark, base_path, spans):
    """A CheckpointManager whose checkpoint() first materialises its input
    under the caller's job description (so the caller's layer keeps its
    own compute), then times the write, read-back and manifest update as a
    ``checkpoint`` span and restores the caller's job description."""
    from uk_address_matcher_spark.checkpoint import CheckpointManager

    class TimedCheckpointManager(CheckpointManager):
        def __init__(self):
            super().__init__(spark, base_path)
            self.rows: dict[str, int] = {}

        def checkpoint(self, df, name):
            sc = self.spark.sparkContext
            caller = sc.getLocalProperty("spark.job.description")
            df = df.cache()
            self.rows[name] = df.count()
            t0 = time.time()
            try:
                return super().checkpoint(df, name)
            finally:
                spans.append(("checkpoint", t0, time.time()))
                sc.setJobDescription(caller)
                df.unpersist()

    return TimedCheckpointManager()


def end_to_end_metrics(bench: Bench, s: dict) -> dict:
    walls = [u["wall"] for u in s["units"]]
    return {
        "setup_s": {"value": s["setup_s"], "unit": "s"},
        "docs_per_s": {"value": bench.n_docs / statistics.median(walls), "unit": "docs/s"},
        "pairwise_f1": {"value": s["pairwise_f1"], "unit": "ratio"},
        "peak_rss_mb": {"value": s["peak_rss_mb"], "unit": "MB"},
    }


def per_layer_metrics(bench: Bench, s: dict) -> dict:
    from eventlog import LAYER_FIELDS, LAYERS, EventLog

    log = EventLog(bench.event_log_path())
    per_unit = []
    for u in s["traced"]:
        w0, w1 = u["window"]
        spans = [sp for sp in bench.spans if w0 <= sp[1] <= w1]
        m = log.unit_metrics(spans, u["window"])
        rows = u["rows"]
        for layer in LAYERS:
            m[f"{layer}.rows_out"] = rows.get(layer, 0)
        m["blocking.pairs_per_messy"] = rows["blocking"] / bench.n
        m["scoring.kept_frac"] = rows["scoring"] / rows["blocking"] if rows["blocking"] else 0.0
        m["second_pass.best_changed_frac"] = rows["best_changed_frac"]
        m["checkpoint.mb_written"] = rows["checkpoint_mb"]
        per_unit.append(m)
    units = {
        **{f"{layer}.{field}": unit for layer in LAYERS for field, unit in LAYER_FIELDS},
        "blocking.pairs_per_messy": "pairs/doc",
        "scoring.kept_frac": "ratio",
        "second_pass.best_changed_frac": "ratio",
        "checkpoint.write_s": "s",
        "checkpoint.mb_written": "MB",
    }
    metrics = {
        name: {"value": statistics.median(m[name] for m in per_unit), "unit": unit}
        for name, unit in units.items()
    }
    overhead = statistics.median(u["wall"] for u in s["traced"]) - statistics.median(
        u["wall"] for u in s["units"]
    )
    metrics["trace_overhead_s"] = {"value": overhead, "unit": "s"}
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--canonical", type=int, default=None, help="override the canonical row count (smoke runs)")
    args = ap.parse_args(argv)

    t_process = process_start_time()
    if not os.path.isfile(os.path.join(ROOT, "uk_address_matcher_spark", "__init__.py")):
        print(f"perfbench: library source not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    os.makedirs(os.path.join(run_dir, "tmp"))
    # every file Spark, the JVM and Python workers write stays in run_dir.
    # This overrides get_spark's /dev/shm choice for shuffle files; the
    # README gives the measured cost of keeping them on the checkout's disk
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)

    host0 = host_snapshot()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), args.canonical, run_dir)
    try:
        s = bench.run(t_process)
        if not s["units"] or (args.trace and not s["traced"]):
            for line in bench.log:
                print(line, file=sys.stderr)
            print("perfbench: no unit completed", file=sys.stderr)
            return 1
        metrics = per_layer_metrics(bench, s) if args.trace else end_to_end_metrics(bench, s)
    finally:
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    host1 = host_snapshot()

    for line in bench.log:
        print(line, file=sys.stderr)
    walls = [u["wall"] for u in s["units"]]
    steal = steal_share(host0, host1)
    print(
        f"workload {args.workload} seed {args.seed} trace {args.trace}: "
        f"{bench.n_docs} docs, nproc {bench.cores}, loadavg {host0['loadavg']} -> {host1['loadavg']}, "
        f"steal {steal if steal is None else round(steal, 4)}"
    )
    print(
        f"untraced unit wall: median {statistics.median(walls):.3f} s of {len(walls)} "
        f"({', '.join(f'{w:.3f}' for w in walls)})"
        + (
            f"; traced: median {statistics.median(u['wall'] for u in s['traced']):.3f} s of {len(s['traced'])}"
            if s["traced"]
            else ""
        )
    )
    print(f"output: {bench.expected}")
    print("setup phases: " + ", ".join(f"{k} {v:.3f} s" for k, v in bench.phases.items()))
    print(f"failed_frac {s['failed'] / s['attempted']:.4f} ({s['failed']} of {s['attempted']} units)")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": s["failed"] == 0,
                "attempted": s["attempted"],
                "failed": s["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
