"""One benchmark run of one workload, in the fresh process `run.py`
starts. Not meant to be run by hand: use `python3 perfbench/run.py`.

Flow: build the session, write the seeded binlog, build the workload's
lake (lake_dedup), then the timed closed loop, then the correctness
check against an independent reference, then (traced runs) the
per-layer metrics from the spans and the Spark event log. The result
goes to the JSON file named by --out.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import Tracer  # noqa: E402

KEY_COLS = ["repo", "path"]

# the 4-op CDC ingest recipe: Catalyst mappers plus one cheap filter
INGEST_RECIPE = [
    {"clean_copyright_mapper": {"text_key": "content"}},
    {"clean_email_mapper": {"text_key": "content"}},
    {"clean_links_mapper": {"text_key": "content"}},
    {"text_length_filter": {"min_len": 20, "max_len": 10**9,
                            "text_key": "content"}},
]

# Sizes are fixed per workload; only --seed changes the generated data.
# cdc_ingest: many small epochs of ~200 B files, so per-epoch fixed cost
# (jobs, ~128 files, commit, listing) dominates. Epoch 0 (the base
# write, and the first epoch's cold start) is set-up; the window is whole
# compaction cycles of three merge epochs and one compacting epoch, so
# the median epoch time has three samples a run. The binlog holds three
# cycles so a faster engine still has epochs to replay.
# lake_dedup: a two-epoch lake (the epoch-0 base plus one pending MOR
# delta) that each pass reads, diffs and deduplicates. Set-up makes one
# untimed pass and one untimed dedup; the kept count is compared across
# them and the timed passes. Its 16 buckets (a pass still reads ~50
# files) keep a run short: with 64 the build and reads cost ~10 s more.
WORKLOADS = {
    "cdc_ingest": {"events_per_epoch": 2000, "epochs": 1 + 4 * 3,
                   "content_repeat": 1, "compact_every": 4, "buckets": 64},
    "lake_dedup": {"events_per_epoch": 2000, "epochs": 2,
                   "content_repeat": 2, "compact_every": 1000, "buckets": 16},
}
# 50 repos x 400 paths with one hot repo taking 45% of events: keys
# repeat inside an epoch, so in-batch compaction collapses real work
GEN = {"n_repos": 50, "n_paths": 400, "hot_fraction": 0.45}
# safety stop so a pathologically slow run still ends inside an
# invocation's 180 s
MAX_WINDOW_S = 60.0


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        # Not the package's 8 GB heap: a fixed 1 GB, pre-touched. With
        # the shipped heap G1 grows it by a different amount in every run
        # (peak memory IQR/median ~0.35 over five seeds) and with -Xms at
        # the shipped 8 GB a run holds ~6.5 GB; a fixed 1 GB heap makes
        # peak memory move only with what else the processes hold.
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        # temp files stay inside the run's work dir
        "spark.driver.extraJavaOptions":
            f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp "
            "-XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    return conf


def digest(df):
    """(rows, order-independent hash) of the key columns and the content
    sha256; the same shape as the replay tool's state digest."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in KEY_COLS],
                   F.sha2(F.col("content"), 256)).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("rows"),
                 F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)"))
                 .alias("h")).first()
    return int(row["rows"]), str(row["h"])


def reference_state(events, upto_epoch: int):
    """Independent expected lake state: the last event per key by seq
    over epochs <= upto_epoch (a row_number window, not the replayer's
    max_by), deletes removed, the recipe applied in drop mode."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_juicer_spark.pipeline import Pipeline

    w = Window.partitionBy(*KEY_COLS).orderBy(F.col("seq").desc())
    last = (events.where(F.col("epoch") <= upto_epoch)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn"))
    return Pipeline(INGEST_RECIPE).apply(last.where(F.col("op") != "D"))


class Run:
    def __init__(self, args):
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.work = args.work
        self.tracer = Tracer(bool(args.trace))
        self.ops: list = []          # timed operations, in order
        self.setup_epochs: list = []
        self.failed = 0
        self.checks: dict = {}
        self.detail: dict = {}

    # -- set-up ------------------------------------------------------------

    def setup(self):
        import data_juicer_spark.cdc.events as events_mod
        import data_juicer_spark.session as session_mod

        t = self.tracer
        if t.enabled:
            t.install()
            os.makedirs(f"{self.work}/eventlog")
        nproc = len(os.sched_getaffinity(0))
        with t.phase("setup.session") as ph:
            self.spark = session_mod.get_spark(
                app_name=f"perfbench-{self.args.workload}", parallelism=nproc,
                extra_conf=spark_conf(self.work, t.enabled))
        self.detail["session_s"] = ph.seconds
        self.n_events = self.cfg["events_per_epoch"] * self.cfg["epochs"]
        binlog = f"{self.work}/binlog"
        with t.phase("setup.binlog") as ph:
            events_mod.generate_events(
                self.spark, self.n_events,
                batch_size=self.cfg["events_per_epoch"], seed=self.args.seed,
                content_repeat=self.cfg["content_repeat"], **GEN,
            ).write.parquet(binlog)
        self.detail["gen_s"] = ph.seconds
        self.events = self.spark.read.parquet(binlog)

        from data_juicer_spark.cdc.replay import CdcReplayer
        from data_juicer_spark.lake.table import SnapshotTable
        from data_juicer_spark.pipeline import Pipeline

        self.table = SnapshotTable(
            self.spark, f"{self.work}/lake", KEY_COLS,
            num_buckets=self.cfg["buckets"], strategy="mor",
            compact_every=self.cfg["compact_every"])
        self.replayer = CdcReplayer(self.table, pipeline=Pipeline(INGEST_RECIPE))

    def apply_epoch(self, ep: int, phase: str) -> dict:
        from pyspark.sql import functions as F

        batch = self.events.where(F.col("epoch") == ep)
        with self.tracer.phase(phase, epoch=ep) as ph:
            st = self.replayer.apply_epoch(batch, ep)
        rec = {"epoch": ep, "s": ph.seconds,
               "operation": self.table.current_snapshot()["operation"],
               "keys": st.events, "upserts": st.upserts,
               "filtered": st.filtered_out,
               "span": ph.span["id"] if ph.span else None}
        return rec

    # -- timed windows -------------------------------------------------------

    def setup_ingest(self):
        # epoch 0 writes the base snapshot and pays the first epoch's
        # cold start (JIT, class loading, cold plans), by a different
        # amount in every run: set-up, untimed
        self.setup_epochs.append(self.apply_epoch(0, "setup.epoch"))

    def window_ingest(self):
        """Closed loop: epoch N+1 is pulled only after epoch N commits.
        The window runs whole compaction cycles until --seconds have
        passed, so every run carries the same share of compaction."""
        self.t_first = time.time()
        start = time.perf_counter()
        for ep in range(1, self.cfg["epochs"]):
            try:
                rec = self.apply_epoch(ep, "epoch")
            except Exception:
                traceback.print_exc()
                self.failed += 1
                break
            self.ops.append(rec)
            elapsed = time.perf_counter() - start
            if (rec["operation"] == "compact" and elapsed >= self.args.seconds) \
                    or elapsed >= MAX_WINDOW_S:
                break
        self.window = (self.t_first, time.time())

    def setup_lake(self):
        with self.tracer.phase("setup.lake"):
            for ep in range(self.cfg["epochs"]):
                self.setup_epochs.append(self.apply_epoch(ep, "setup.epoch"))
        snap = self.table.current_snapshot()
        if snap["epoch"] != self.cfg["epochs"] - 1 or not snap["deltas"]:
            raise RuntimeError("lake build did not leave pending deltas")
        # the epoch-0 snapshot (the dedup input) holds epoch 0's upserts
        self.base_rows = self.setup_epochs[0]["upserts"]
        from data_juicer_spark.operators.dedup import DocumentMinhashDeduplicator

        self.dedup = DocumentMinhashDeduplicator(
            text_key="content", id_key="seq", num_permutations=128,
            jaccard_threshold=0.7)
        # The first pass runs ~5 s slower than a warm one (JIT, class
        # loading, Python workers importing the package, cold read and
        # diff plans) and the second ~1-3 s slower, mostly in the dedup,
        # by a different amount in every run: over ten runs the second
        # pass's time spread 0.2 (IQR/median), the third's 0.07. Set-up
        # pays for both, untimed: one pass and one more dedup.
        self.warm_pass = self.one_pass("setup.pass")
        with self.tracer.phase("setup.dedup"):
            self.warm_kept = self.dedup.apply(self.table.read(at_epoch=0)).count()

    def one_pass(self, name: str) -> dict:
        """One reader pass over the lake: read the current snapshot
        (pending deltas resolved on read) and digest it, diff epochs
        0..last, and MinHash-dedup the epoch-0 base (a plain bucketed
        scan: it has no deltas)."""
        t, last = self.tracer, self.cfg["epochs"] - 1
        rec = {}
        with t.phase(name) as ph:
            with t.phase(f"{name}.read") as a:
                rec["state"] = digest(self.table.read())
            with t.phase(f"{name}.changes") as b:
                rec["changes"] = self.table.read_changes(0, last).count()
            with t.phase(f"{name}.dedup") as d:
                rec["kept"] = self.dedup.apply(self.table.read(at_epoch=0)).count()
        rec.update(s=ph.seconds, read_s=a.seconds, changes_s=b.seconds,
                   dedup_s=d.seconds)
        return rec

    def window_dedup(self):
        """Closed loop of reader passes over the same lake."""
        self.t_first = time.time()
        start = time.perf_counter()
        while True:
            try:
                self.ops.append(self.one_pass("pass"))
            except Exception:
                traceback.print_exc()
                self.failed += 1
                break
            elapsed = time.perf_counter() - start
            if elapsed >= self.args.seconds or elapsed >= MAX_WINDOW_S:
                break
        self.window = (self.t_first, time.time())

    # -- correctness -------------------------------------------------------

    def check(self):
        t = self.tracer
        last = self.table.current_epoch()
        dedup = self.args.workload == "lake_dedup"
        if dedup:
            got = self.ops[0]["state"]  # every pass digests the state
        else:
            with t.phase("check.lake") as ph:
                got = digest(self.table.read())
            self.detail["check_lake_s"] = ph.seconds
        with t.phase("check.reference") as ph:
            want = digest(reference_state(self.events, last))
        self.detail["check_reference_s"] = ph.seconds
        self.checks["state"] = {"epoch": last, "lake": got, "reference": want}
        ok = got == want
        if dedup:
            passes = [self.warm_pass] + self.ops
            kept = {self.warm_kept} | {p["kept"] for p in passes}
            changes = {p["changes"] for p in passes}
            self.checks.update(kept=sorted(kept), changes=sorted(changes))
            self.failed += sum(op["state"] != want for op in self.ops)
            # the same lake gives the same answers on every pass, the
            # untimed set-up ones included
            ok = (ok and self.warm_pass["state"] == want
                  and len(kept) == 1 and 0 < min(kept) <= self.base_rows
                  and len(changes) == 1 and min(changes) > 0)
        self.checks["ok"] = ok
        if not ok:
            # a wrong final state taints every operation that built it
            self.failed = max(self.failed, len(self.ops), 1)

    # -- metrics -------------------------------------------------------------

    def end_to_end(self) -> dict:
        ops = self.ops
        if self.args.workload == "cdc_ingest":
            plain = [o["s"] for o in ops if o["operation"] == "merge-mor"]
            compact = [o["s"] for o in ops if o["operation"] == "compact"]
            events = self.cfg["events_per_epoch"] * len(ops)
            rows_per_sec = events / sum(o["s"] for o in ops)
            op_p50 = statistics.median(plain)
            self.detail.update(
                events_per_sec=rows_per_sec, **{"epoch_s.p50": op_p50},
                **{"compact_epoch_s.p50": statistics.median(compact)
                   if compact else None},
                epochs=len(ops), compactions=len(compact),
                epoch_s=[o["s"] for o in ops])
        else:
            rows_per_sec = self.base_rows / statistics.median(
                o["dedup_s"] for o in ops)
            op_p50 = statistics.median(o["s"] for o in ops)
            self.detail.update(
                dedup_rows_per_sec=rows_per_sec, passes=len(ops),
                pass_s=[o["s"] for o in ops],
                **{"read_s.p50": statistics.median(o["read_s"] for o in ops),
                   "changes_s.p50": statistics.median(o["changes_s"] for o in ops),
                   "dedup_s.p50": statistics.median(o["dedup_s"] for o in ops),
                   "pass_s.p50": op_p50})
        return {"setup_s": self.t_first - self.args.spawn_time,
                "rows_per_sec": rows_per_sec, "op_s.p50": op_p50}

    def execute(self) -> dict:
        self.setup()
        if self.args.workload == "lake_dedup":
            self.setup_lake()
            self.window_dedup()
        else:
            self.setup_ingest()
            self.window_ingest()
        if self.failed == 0:
            self.check()
        else:
            self.checks["ok"] = False
        e2e = self.end_to_end() if self.ops and self.checks["ok"] else {}
        per_layer = {}
        if self.tracer.enabled and self.args.workload == "lake_dedup":
            # the candidate-edge count is one extra job, so only traced
            # runs pay it, after the timed window
            with self.tracer.phase("trace.edges"):
                self.edges = self.dedup.duplicate_pairs(
                    self.table.read(at_epoch=0), "seq").count()
        if self.tracer.enabled:
            self.spark.profile.dump(f"{self.work}/udf_profile", type="perf")
        t0 = time.perf_counter()
        self.spark.stop()
        self.detail["stop_s"] = time.perf_counter() - t0
        if self.tracer.enabled:
            import layers

            per_layer = layers.compute(self)
            self.tracer.dump(f"{self.work}/spans.json")
        return {"attempted": max(len(self.ops), 1), "failed": self.failed,
                "correct": self.failed == 0 and self.checks.get("ok", False),
                "e2e": e2e, "per_layer": per_layer, "detail": self.detail,
                "checks": self.checks}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = Run(args).execute()
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
