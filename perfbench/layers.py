"""Per-layer metrics of one traced run, from three sources read after
the session stops: the benchmark's spans (tracing.py), the Spark event
log (eventlog.py) and the lake's own files (manifests and data files).

Layers are named after the package modules. The metrics and their
units are the `per_layer` list of BENCHMARK.json; each is defined on both
workloads (a count is 0 where its layer does no work). Times that only
one workload produces (`operators.dedup.signature_s`, `.cc_s`,
`self_s.operators.dedup`, `lake.compact_s`) go to the detail line.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

import eventlog

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
# every metric's unit, from the one list of metrics: BENCHMARK.json
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
# the per-layer metrics computed here; the launcher adds `trace.*`, which
# compare two runs
PER_LAYER = [m["name"] for m in SPEC["per_layer"]
             if not m["name"].startswith("trace.")]


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def _dir_files(dirs) -> list:
    out = []
    for d in dirs:
        for base, _sub, files in os.walk(d):
            out += [os.path.join(base, f) for f in files
                    if f.endswith(".parquet")]
    return out


def _size(files) -> int:
    return sum(os.path.getsize(f) for f in files)


class _Attribution:
    """Maps each job to the innermost span that issued it: by the span id
    in its job description, else (jobs started before a description
    could be set, i.e. inside get_spark) by submission time."""

    def __init__(self, spans: list, log: eventlog.EventLog):
        self.spans = {s["id"]: s for s in spans}
        self.log = log
        self.owner = {}
        for job in log.jobs.values():
            sid = job.span_id
            if sid not in self.spans:
                t = job.submit_ms / 1000
                covering = [s for s in spans
                            if s["start"] <= t <= (s["end"] or float("inf"))]
                sid = max(covering, key=lambda s: s["start"])["id"] \
                    if covering else None
            self.owner[job.job_id] = sid

    def _under(self, sid, root) -> bool:
        while sid is not None:
            if sid == root:
                return True
            sid = self.spans[sid]["parent"]
        return False

    def jobs(self, root: int) -> list:
        return [j for j in self.log.jobs.values()
                if self._under(self.owner[j.job_id], root)]

    def descendants(self, root: int, name: str) -> list:
        return [s for s in self.spans.values()
                if s["name"] == name and self._under(s["id"], root)]

    def stages(self, jobs) -> list:
        seen, out = set(), []
        for j in jobs:
            for st in self.log.job_stages(j):
                if st.stage_id not in seen:
                    seen.add(st.stage_id)
                    out.append(st)
        return out


def _job_union_s(jobs) -> float:
    return eventlog.union_ms(
        (j.submit_ms, j.end_ms) for j in jobs if j.end_ms) / 1000


def _manifests(lake: str) -> list:
    out = []
    for fn in glob.glob(f"{lake}/metadata/snap-*.json"):
        with open(fn) as f:
            m = json.load(f)
        m["_bytes"] = os.path.getsize(fn)
        out.append(m)
    return sorted(out, key=lambda m: m["committed_at"])


def _udf_body_s(profile_dir: str) -> float:
    import pstats

    return sum(pstats.Stats(fn).total_tt
               for fn in glob.glob(f"{profile_dir}/*.pstats"))


def compute(run) -> dict:
    """{metric: value} for every PER_LAYER metric; adds the
    workload-specific times to run.detail."""
    log = eventlog.load(f"{run.work}/eventlog")
    tracer = run.tracer
    att = _Attribution(tracer.spans, log)
    m: dict = {}

    # -- session ----------------------------------------------------------
    session = next(s for s in tracer.spans if s["name"] == "get_spark")
    warm_jobs = att.jobs(session["id"])
    m["session.build_s"] = session["end"] - session["start"]
    m["session.warmup_s"] = _job_union_s(warm_jobs)
    m["session.warmup_jobs"] = len(warm_jobs)
    m["cdc.events.gen_s"] = run.detail["gen_s"]

    # -- cdc.replay / pipeline / lake writes, over non-compacting epochs --
    epochs = run.setup_epochs + [o for o in run.ops if "epoch" in o]
    plain = [e for e in epochs if e["operation"] == "merge-mor"]
    per_epoch = run.cfg["events_per_epoch"]
    manifests = _manifests(f"{run.work}/lake")
    by_epoch: dict = {}
    for man in manifests:
        by_epoch.setdefault(man["epoch"], {})[man["operation"]] = man
    jobs_n, idle, scan_s, plan_s, write_s, commit_s, files_n, man_b = \
        [], [], [], [], [], [], [], []
    scan_shuffle = delta_bytes = 0
    for e in plain:
        jobs = att.jobs(e["span"])
        jobs_n.append(len(jobs))
        idle.append(max(e["s"] - _job_union_s(jobs), 0.0))
        scans = [st for st in att.stages(jobs)
                 if st.total("input_records") > 0]
        scan_s.append(sum(st.wall_ms for st in scans) / 1000)
        scan_shuffle += sum(st.total("shuffle_write_bytes") for st in scans)
        plan_s += [s["end"] - s["start"]
                   for s in att.descendants(e["span"], "Pipeline.apply")]
        man = by_epoch[e["epoch"]]["merge-mor"]
        for mc in att.descendants(e["span"], "merge_combined"):
            mjobs = att.jobs(mc["id"])
            write_s.append(_job_union_s(mjobs))
            ends = [j.end_ms for j in mjobs if j.end_ms]
            if ends:
                commit_s.append(man["committed_at"] - max(ends) / 1000)
        delta = man["deltas"][-1]
        files = _dir_files(list(delta["upsert_buckets"].values())
                           + list(delta.get("delete_buckets", {}).values()))
        files_n.append(len(files))
        delta_bytes += _size(files)
        man_b.append(man["_bytes"])
    plain_events = per_epoch * len(plain)
    keys_out = sum(e["keys"] for e in plain)
    m["cdc.replay.jobs_per_epoch"] = _median(jobs_n)
    m["cdc.replay.driver_idle_s_per_epoch"] = _median(idle)
    m["cdc.replay.binlog_scan_s"] = _median(scan_s)
    m["cdc.replay.compact.shuffle_write_bytes_per_event"] = \
        scan_shuffle / max(plain_events, 1)
    m["cdc.replay.compact.collapse_ratio"] = plain_events / max(keys_out, 1)
    m["pipeline.plan_build_s"] = _median(plan_s)
    ups = sum(e["upserts"] for e in epochs)
    m["pipeline.kept_ratio"] = ups / max(ups + sum(e["filtered"] for e in epochs), 1)
    m["lake.write_s_per_epoch"] = _median(write_s)
    m["lake.files_per_epoch"] = _median(files_n)
    m["lake.bytes_written_per_event"] = delta_bytes / max(plain_events, 1)
    m["lake.commit_s"] = _median(commit_s)
    m["lake.manifest_bytes"] = _median(man_b)

    # compaction: rewritten bytes against all delta payload written
    compacts = [by_epoch[e["epoch"]] for e in epochs
                if e["operation"] == "compact"]
    rewritten = all_delta = 0
    compact_s = []
    for ops in compacts:
        man = ops["compact"]
        new_dirs = {man["buckets"][str(b)] for b in man.get("rewritten_buckets", [])}
        rewritten += _size(_dir_files(new_dirs))
        compact_s.append(man["committed_at"] - ops["merge-mor"]["committed_at"])
    for man in manifests:
        if man["operation"] == "merge-mor":
            d = man["deltas"][-1]
            all_delta += _size(_dir_files(
                list(d["upsert_buckets"].values())
                + list(d.get("delete_buckets", {}).values())))
    m["lake.compact.bytes_rewritten"] = rewritten
    m["lake.write_amplification"] = (all_delta + rewritten) / max(all_delta, 1)
    if compact_s:
        run.detail["lake.compact_s"] = _median(compact_s)

    # -- lake reads: the first read of the current (possibly MOR) state --
    read_phase = next(s for s in tracer.spans
                      if s["name"] in ("pass.read", "check.lake"))
    snap = manifests[-1]
    m["lake.read.pending_deltas"] = len(snap.get("deltas", []))
    dirs = list(snap["buckets"].values())
    for d in snap.get("deltas", []):
        dirs += list(d["upsert_buckets"].values())
        dirs += list(d.get("delete_buckets", {}).values())
    m["lake.read.files_scanned"] = len(_dir_files(dirs))
    m["lake.read.shuffle_bytes"] = sum(
        st.total("shuffle_write_bytes")
        for st in att.stages(att.jobs(read_phase["id"])))

    # -- operators: Arrow/pandas UDF boundary vs body, whole run ----------
    stages = list(log.stages.values())
    py = {k: sum(st.python_total(k) for st in stages)
          for k in eventlog.PYTHON_METRICS.values()}
    total_s = py["total_ms"] / 1000
    body_s = _udf_body_s(f"{run.work}/udf_profile")
    m["operators.udf.python_total_s"] = total_s
    m["operators.udf.boot_s"] = py["boot_ms"] / 1000
    m["operators.udf.init_s"] = py["init_ms"] / 1000
    m["operators.udf.body_s"] = body_s
    m["operators.udf.boundary_share"] = 1 - body_s / total_s if total_s else 0.0
    m["operators.udf.bytes_sent_per_event"] = py["sent_bytes"] / run.n_events
    m["operators.udf.bytes_received_per_event"] = \
        py["received_bytes"] / run.n_events

    # -- operators.dedup / functions.partitioning (lake_dedup passes) -----
    dedup_phases = [s for s in tracer.spans if s["name"] == "pass.dedup"]
    cc_spans = [cc for ph in dedup_phases
                for cc in att.descendants(ph["id"], "connected_components")]
    rounds = [len({log.root_execution(j) for j in att.jobs(s["id"])})
              for s in cc_spans]
    m["operators.dedup.edges"] = getattr(run, "edges", 0)
    m["operators.dedup.cc_rounds"] = _median(rounds, 0)
    t0, t1 = run.window
    m["partitioning.guard_fired"] = sum(
        1 for t, fired in tracer.guard_events if fired and t0 <= t <= t1)
    if dedup_phases:
        sig = []
        for ph in dedup_phases:
            st = att.stages(att.jobs(ph["id"]))
            sig.append(sum(s.wall_ms for s in st
                           if s.python_total("total_ms") > 0) / 1000)
        run.detail["operators.dedup.signature_s"] = _median(sig)
        run.detail["operators.dedup.cc_s"] = _median(
            s["end"] - s["start"] for s in cc_spans)

    # -- Spark engine over the timed window ------------------------------
    win_jobs = [j for j in log.jobs.values() if t0 * 1000 <= j.submit_ms <= t1 * 1000]
    win_stages = att.stages(win_jobs)
    n_ops = max(len(run.ops), 1)
    tasks = [t for st in win_stages for t in st.tasks]
    m["spark.executor_run_s_per_op"] = sum(t.run_ms for t in tasks) / 1000 / n_ops
    m["spark.executor_cpu_s_per_op"] = sum(t.cpu_ns for t in tasks) / 1e9 / n_ops
    m["spark.gc_s_per_op"] = sum(t.gc_ms for t in tasks) / 1000 / n_ops
    m["spark.shuffle_write_bytes_per_op"] = \
        sum(t.shuffle_write_bytes for t in tasks) / n_ops
    m["spark.tasks_per_op"] = len(tasks) / n_ops
    m["spark.task_skew"] = eventlog.task_skew(win_stages)

    # -- self time per layer --------------------------------------------------
    own = tracer.self_seconds()
    for name in PER_LAYER:
        if name.startswith("self_s."):
            m[name] = own.get(name[len("self_s."):], 0.0)
    if "operators.dedup" in own:
        run.detail["self_s.operators.dedup"] = own["operators.dedup"]

    missing = set(PER_LAYER) - set(m)
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {sorted(missing)}")
    return {k: float(m[k]) for k in PER_LAYER}
