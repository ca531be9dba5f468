"""CDC-invariant tests (FIXTURES.md F5) + pipeline parity vs a pandas
oracle (F4)."""

import hashlib
import os
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_juicer_spark.cdc.events import generate_events
from data_juicer_spark.cdc.replay import CdcReplayer
from data_juicer_spark.lake.table import SnapshotTable
from data_juicer_spark.pipeline import Pipeline


@pytest.fixture()
def tmp_root():
    d = tempfile.mkdtemp(prefix="lake_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(params=["cow", "mor"])
def strategy(request):
    return request.param


def make_events(spark, n=2000, batch=500):
    return generate_events(spark, n, batch_size=batch, n_repos=10, n_paths=60)


def table_state(spark, table):
    df = table.read()
    if df is None:
        return {}
    rows = df.select("repo", "path", F.sha2("content", 256).alias("h")).collect()
    return {(r["repo"], r["path"]): r["h"] for r in rows}


def pandas_oracle_state(spark, events_df, pipeline_fns=None):
    """Replay in plain pandas: last event per key by seq wins; D deletes;
    then apply the same operator math row-wise."""
    pdf = events_df.toPandas().sort_values("seq")
    state = {}
    for _, r in pdf.iterrows():
        key = (r["repo"], r["path"])
        if r["op"] == "D":
            state.pop(key, None)
        else:
            state[key] = r["content"]
    if pipeline_fns:
        out = {}
        for k, content in state.items():
            for fn in pipeline_fns:
                content = fn(content)
                if content is None:
                    break
            if content is not None:
                out[k] = content
        state = out
    return {
        k: hashlib.sha256(v.encode()).hexdigest() for k, v in state.items()
    }


def test_delete_semantics_last_wins(spark, tmp_root, strategy):
    events = make_events(spark, 2000, 500).persist()
    # compact_every=3 so the MOR path exercises BOTH delta resolution
    # (uncompacted tail) and compaction within a 4-epoch replay
    table = SnapshotTable(spark, tmp_root, ["repo", "path"], num_buckets=8,
                          strategy=strategy, compact_every=3)
    CdcReplayer(table).replay(events)
    assert table_state(spark, table) == pandas_oracle_state(spark, events)
    events.unpersist()


def test_exactly_once_redelivery(spark, tmp_root, strategy):
    events = make_events(spark, 1500, 500).persist()
    table = SnapshotTable(spark, tmp_root, ["repo", "path"], num_buckets=8,
                          strategy=strategy)
    rep = CdcReplayer(table)
    rep.replay(events)
    state1 = table_state(spark, table)
    snaps1 = len(table.snapshot_history())
    # re-deliver epochs 1 and 2 wholesale
    for ep in (1, 2):
        st = rep.apply_epoch(events.where(F.col("epoch") == ep), ep)
        assert st.skipped
    assert table_state(spark, table) == state1
    assert len(table.snapshot_history()) == snaps1
    events.unpersist()


def test_resume_from_checkpoint(spark, tmp_root, strategy):
    events = make_events(spark, 2000, 400).persist()
    # uninterrupted replay
    t_full = SnapshotTable(spark, tmp_root + "/full", ["repo", "path"],
                           num_buckets=8, strategy=strategy)
    CdcReplayer(t_full).replay(events)
    # interrupted: stop after epoch 2, then new replayer resumes
    t_part = SnapshotTable(spark, tmp_root + "/part", ["repo", "path"],
                           num_buckets=8, strategy=strategy)
    CdcReplayer(t_part).replay(events, end_epoch=2)
    assert t_part.current_epoch() == 2
    CdcReplayer(t_part).replay(events)  # resume: start defaults to epoch 3
    assert table_state(spark, t_full) == table_state(spark, t_part)
    events.unpersist()


def test_mor_schema_evolution_and_compaction(spark, tmp_root):
    table = SnapshotTable(spark, tmp_root, ["repo", "path"], num_buckets=4,
                          strategy="mor", compact_every=2)
    base = spark.createDataFrame(
        [("r1", "a.py", "print(1)"), ("r1", "b.py", "print(2)")],
        ["repo", "path", "content"],
    )
    table.merge(base, None, epoch=0)
    evolved = spark.createDataFrame(
        [("r1", "a.py", "print(3)", "python")],
        ["repo", "path", "content", "lang"],
    )
    m = table.merge(evolved, None, epoch=1)  # delta #1
    rows = {r["path"]: r for r in table.read().collect()}
    assert rows["a.py"]["lang"] == "python" and rows["b.py"]["lang"] is None
    dels = spark.createDataFrame([("r1", "b.py")], ["repo", "path"])
    m = table.merge(None, dels, epoch=2)  # delta #2 -> triggers compaction
    assert m["operation"] == "compact" and m["deltas"] == []
    rows = {r["path"]: r for r in table.read().collect()}
    assert set(rows) == {"a.py"} and rows["a.py"]["content"] == "print(3)"


def test_schema_evolution_midstream(spark, tmp_root):
    table = SnapshotTable(spark, tmp_root, ["repo", "path"], num_buckets=4)
    base = spark.createDataFrame(
        [("r1", "a.py", "print(1)"), ("r1", "b.py", "print(2)")],
        ["repo", "path", "content"],
    )
    table.merge(base, None, epoch=0)
    # epoch 1 arrives with new columns lang + stats
    evolved = spark.createDataFrame(
        [("r1", "a.py", "print(3)", "python", 8)],
        ["repo", "path", "content", "lang", "text_len"],
    )
    table.merge(evolved, None, epoch=1)
    rows = {r["path"]: r for r in table.read().collect()}
    assert rows["a.py"]["lang"] == "python" and rows["a.py"]["text_len"] == 8
    assert rows["b.py"]["lang"] is None and rows["b.py"]["text_len"] is None
    assert rows["b.py"]["content"] == "print(2)"  # untouched key preserved


def test_merge_rewrites_only_changed_buckets(spark, tmp_root):
    table = SnapshotTable(spark, tmp_root, ["repo", "path"], num_buckets=16)
    base = spark.createDataFrame(
        [("r1", f"f{i}.py", f"c{i}") for i in range(200)],
        ["repo", "path", "content"],
    )
    table.merge(base, None, epoch=0)
    one = spark.createDataFrame([("r1", "f0.py", "NEW")], ["repo", "path", "content"])
    m = table.merge(one, None, epoch=1)
    assert len(m["rewritten_buckets"]) == 1  # only f0.py's bucket rewritten
    state = {r["path"]: r["content"] for r in table.read().collect()}
    assert state["f0.py"] == "NEW" and state["f1.py"] == "c1" and len(state) == 200


def test_hot_key_skew_parity(spark, tmp_root):
    # ~45% of events on one repo (generator default)
    events = make_events(spark, 3000, 1000).persist()
    hot = events.groupBy("repo").count().orderBy(F.desc("count")).first()
    assert hot["count"] > 1000  # skew actually present
    table = SnapshotTable(spark, tmp_root, ["repo", "path"], num_buckets=8)
    CdcReplayer(table, salt_buckets=8).replay(events)  # salted compaction path
    assert table_state(spark, table) == pandas_oracle_state(spark, events)
    events.unpersist()


# --- F4: full pipeline parity vs pandas oracle ------------------------------

EMAIL_RE = re.compile(r"[A-Za-z0-9.\-+_]+@[a-z0-9.\-+_]+\.[a-z]+")
LINK_RE = re.compile(
    r"(?i)\b(?:https?|ftp)://[-A-Za-z0-9+&@#/%?=~_|!:,.;]*[-A-Za-z0-9+&@#/%=~_|]"
    r"|www\.[-A-Za-z0-9+&@#/%?=~_|!:,.;]*[-A-Za-z0-9+&@#/%=~_|]"
)
BLOCK_RE = re.compile(r"/\*[^*]*\*+(?:[^/*][^*]*\*+)*/", re.DOTALL)


def _oracle_clean_copyright(txt):
    # reference-exact (clean_copyright_mapper.py:33-59): block found ->
    # strip only if it mentions copyright, then RETURN; otherwise greedily
    # strip leading //-, #-, --- or empty lines unconditionally
    m = BLOCK_RE.search(txt)
    if m:
        if "copyright" in m.group(0).lower():
            txt = txt[: m.start()] + txt[m.end():]
        return txt
    lines = txt.split("\n")
    skip = 0
    for line in lines:
        if line.startswith("//") or line.startswith("#") \
                or line.startswith("--") or not line:
            skip += 1
        else:
            break
    if skip:
        txt = "\n".join(lines[skip:])
    return txt


def _oracle_clean_email(txt):
    return EMAIL_RE.sub("", txt)


def _oracle_clean_links(txt):
    return LINK_RE.sub("", txt)


def _oracle_len_filter(txt):
    return txt if 20 <= len(txt) else None


def test_pipeline_parity_with_pandas_oracle(spark, tmp_root):
    events = make_events(spark, 2500, 500).persist()
    pipe = Pipeline([
        {"clean_copyright_mapper": {"text_key": "content"}},
        {"clean_email_mapper": {"text_key": "content"}},
        {"clean_links_mapper": {"text_key": "content"}},
        {"text_length_filter": {"min_len": 20, "max_len": 10**9, "text_key": "content"}},
    ])
    table = SnapshotTable(spark, tmp_root, ["repo", "path"], num_buckets=8)
    CdcReplayer(table, pipeline=pipe).replay(events)
    got = table_state(spark, table)
    want = pandas_oracle_state(
        spark, events,
        pipeline_fns=[_oracle_clean_copyright, _oracle_clean_email,
                      _oracle_clean_links, _oracle_len_filter],
    )
    assert got == want
    events.unpersist()


def test_filtered_rows_are_deleted_from_lake(spark, tmp_root):
    table = SnapshotTable(spark, tmp_root, ["repo", "path"], num_buckets=4)
    pipe = Pipeline([
        {"text_length_filter": {"min_len": 5, "max_len": 10**9, "text_key": "content"}},
    ])
    rep = CdcReplayer(table, pipeline=pipe)
    e0 = spark.createDataFrame(
        [(0, 0, "I", "r", "a.py", "c" * 40, "py", "long enough content")],
        ["seq", "epoch", "op", "repo", "path", "commit", "lang", "content"],
    )
    rep.apply_epoch(e0, 0)
    assert len(table_state(spark, table)) == 1
    # update shrinks content below the quality gate -> key must vanish
    e1 = spark.createDataFrame(
        [(1, 1, "U", "r", "a.py", "d" * 40, "py", "tiny")],
        ["seq", "epoch", "op", "repo", "path", "commit", "lang", "content"],
    )
    rep.apply_epoch(e1, 1)
    assert table_state(spark, table) == {}


def test_salted_compact_preserves_evolved_columns(spark):
    """ADVICE fix: the salted compact() path must carry EVERY non-key
    event column (schema evolution), not a hardcoded payload list."""
    rows = [
        ("r1", "a.py", 1, 1, "U", "c1", "py", "old", "extra0"),
        ("r1", "a.py", 2, 1, "U", "c2", "py", "new", "extra1"),
        ("r2", "b.py", 3, 1, "U", "c3", "py", "keep", "extra2"),
    ]
    events = spark.createDataFrame(
        rows, ["repo", "path", "seq", "epoch", "op", "commit", "lang",
               "content", "evolved_col"])
    table = SnapshotTable.__new__(SnapshotTable)  # only compact() is used
    rep_salted = CdcReplayer(table=None, salt_buckets=4)
    rep_plain = CdcReplayer(table=None, salt_buckets=0)
    got_s = {tuple(r) for r in rep_salted.compact(events).collect()}
    got_p = {tuple(r) for r in rep_plain.compact(events)
             .select(*rep_salted.compact(events).columns).collect()}
    assert got_s == got_p
    assert any(r[-1] == "extra1" for r in got_s)  # evolved col survived


def test_flag_mode_rejects_row_dropping_ops(spark, docs):
    """ADVICE fix: a Deduplicator (or any op that cannot express a
    keep_expr) must raise in flag mode instead of silently dropping
    rows (which would corrupt CDC delete semantics)."""
    pipe = Pipeline([
        {"document_deduplicator": {"text_key": "text", "id_key": "doc_id"}},
    ])
    with pytest.raises(ValueError, match="flag"):
        pipe.apply(docs, filter_mode="flag")


def test_flag_mode_handles_non_stats_filters(spark, docs):
    """suffix/specified-field filters now express keep_expr, so flag
    mode ANDs them instead of raising or dropping."""
    pipe = Pipeline([
        {"specified_numeric_field_filter":
             {"field_key": "n_chars", "min_value": 100, "max_value": 300}},
        {"general_field_filter": {"filter_condition": "lang = 'en'"}},
    ])
    flagged = pipe.apply(docs, filter_mode="flag")
    assert flagged.count() == docs.count()  # no rows dropped
    kept = flagged.where(F.col("__keep__")).count()
    exp = docs.where("n_chars between 100 and 300 and lang = 'en'").count()
    assert kept == exp


def _pandas_state_at(events_df, epoch):
    pdf = events_df.toPandas()
    pdf = pdf[pdf["epoch"] <= epoch].sort_values("seq")
    state = {}
    for _, r in pdf.iterrows():
        key = (r["repo"], r["path"])
        if r["op"] == "D":
            state.pop(key, None)
        else:
            state[key] = r["content"]
    return {k: hashlib.sha256(v.encode()).hexdigest() for k, v in state.items()}


def test_time_travel_reads_historical_state(spark, tmp_root, strategy):
    """read(at_epoch=k) must equal the pandas oracle replayed through
    epoch k — for every epoch, on both strategies (manifests and data
    files are immutable, so history is free)."""
    events = make_events(spark, 2000, 500).persist()
    table = SnapshotTable(spark, tmp_root, ["repo", "path"],
                          num_buckets=8, strategy=strategy, compact_every=3)
    CdcReplayer(table).replay(events)
    max_epoch = events.agg(F.max("epoch")).collect()[0][0]
    for ep in range(0, max_epoch + 1):  # generator epochs start at 0
        got = {
            (r["repo"], r["path"]): r["h"]
            for r in table.read(at_epoch=ep)
            .select("repo", "path", F.sha2("content", 256).alias("h")).collect()
        }
        assert got == _pandas_state_at(events, ep), f"epoch {ep} mismatch"
    # before the first commit the table did not exist
    assert table.read(at_epoch=-1) is None
    events.unpersist()


def _pandas_rows_at(events_df, epoch):
    """key -> full last-writer payload tuple (CDC changelogs compare
    FULL rows: a re-upsert with a new seq/commit but identical content
    is still an update)."""
    pdf = events_df.toPandas()
    pdf = pdf[pdf["epoch"] <= epoch].sort_values("seq")
    state = {}
    for _, r in pdf.iterrows():
        key = (r["repo"], r["path"])
        if r["op"] == "D":
            state.pop(key, None)
        else:
            state[key] = (int(r["seq"]), int(r["epoch"]), r["commit"],
                          r["lang"], r["content"])
    return state


def test_read_changes_matches_state_diff(spark, tmp_root, strategy):
    events = make_events(spark, 2000, 500).persist()
    table = SnapshotTable(spark, tmp_root, ["repo", "path"],
                          num_buckets=8, strategy=strategy, compact_every=3)
    CdcReplayer(table).replay(events)
    max_epoch = events.agg(F.max("epoch")).collect()[0][0]
    lo, hi = 1, max_epoch
    old, new = _pandas_rows_at(events, lo), _pandas_rows_at(events, hi)
    expected = {}
    for k in new.keys() - old.keys():
        expected[k] = "insert"
    for k in old.keys() - new.keys():
        expected[k] = "delete"
    for k in new.keys() & old.keys():
        if new[k] != old[k]:
            expected[k] = "update"
    rows = table.read_changes(lo, hi).collect()
    got = {(r["repo"], r["path"]): r["_change_type"] for r in rows}
    assert got == expected
    # new values ride along; deletes carry nulls
    for r in rows:
        if r["_change_type"] == "delete":
            assert r["content"] is None
        else:
            assert r["content"] == new[(r["repo"], r["path"])][4]
    events.unpersist()


def test_expire_snapshots_keeps_current_state(spark, tmp_root):
    events = make_events(spark, 2000, 250).persist()
    table = SnapshotTable(spark, tmp_root, ["repo", "path"],
                          num_buckets=8, strategy="mor", compact_every=3)
    CdcReplayer(table).replay(events)
    before = table_state(spark, table)
    hist = table.snapshot_history()
    assert len(hist) > 2
    kept_deltas = {d["dir"] for s in hist[:2] for d in s["deltas"]}
    expired_deltas = {d["dir"] for s in hist[2:] for d in s["deltas"]}
    expired_deltas -= kept_deltas
    assert expired_deltas
    # grace=0: no concurrent writer in this test; default 300 s grace
    # would skip the just-written dirs
    stats = table.expire_snapshots(keep_last=2, data_grace_seconds=0.0)
    assert stats["manifests"] > 0 and stats["data_dirs"] > 0
    assert len(table.snapshot_history()) == 2
    # flat delta dirs of expired epochs are reclaimed, retained ones stay
    assert not any(os.path.exists(d) for d in expired_deltas)
    assert all(os.path.isdir(d) for d in kept_deltas)
    assert table_state(spark, table) == before  # current read unchanged
    # time travel past the horizon refuses instead of answering wrong
    oldest = table.snapshot_history()[-1]["epoch"]
    if oldest > 1:
        with pytest.raises(ValueError, match="expired"):
            table.read(at_epoch=oldest - 1)
    events.unpersist()


@pytest.mark.parametrize("shuffle_partitions", [1, 4, 16])
def test_upsert_beats_delete_of_same_key_in_one_merge(
        spark, tmp_root, strategy, shuffle_partitions):
    """merge(upserts, delete_keys) sharing a key upserts it — one
    documented answer whatever the strategy or partition count."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        table = SnapshotTable(spark, tmp_root, ["repo", "path"],
                              num_buckets=8, strategy=strategy)
        cols = ["repo", "path", "content"]
        table.merge(spark.createDataFrame(
            [("r", "p", "v0"), ("r", "q", "w0")], cols), None, epoch=0)
        table.merge(spark.createDataFrame([("r", "p", "v1")], cols),
                    spark.createDataFrame([("r", "p")], ["repo", "path"]),
                    epoch=1)
        got = {r["path"]: r["content"] for r in table.read().collect()}
        assert got == {"p": "v1", "q": "w0"}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_mor_delta_is_a_few_bucket_tagged_files(spark, tmp_root):
    """A small batch into a 64-bucket MOR table lands as at most
    defaultParallelism files (not one per bucket and side), and a
    bucket-pruned read of the pending delta pushes a __bucket__ filter
    into the delta scan and returns exactly that bucket's rows."""
    events = make_events(spark, 600, 300).persist()
    table = SnapshotTable(spark, tmp_root, ["repo", "path"], num_buckets=64,
                          strategy="mor", compact_every=100)
    CdcReplayer(table).replay(events)
    snap = table.current_snapshot()
    assert snap["operation"] == "merge-mor"
    delta = snap["deltas"][-1]
    files = [f for f in os.listdir(delta["dir"]) if f.endswith(".parquet")]
    assert 1 <= len(files) <= spark.sparkContext.defaultParallelism
    assert len(delta["buckets"]) > len(files)

    k = delta["buckets"][0]
    pruned = table.read(buckets=[k])
    # only the delta scan reads __bucket__ (base rows carry no such column)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pushed = [re.search(r"PushedFilters: \[([^\]]*)", ln).group(1)
              for ln in plan.splitlines() if "FileScan" in ln]
    assert any("__bucket__" in p for p in pushed)
    bucket = F.pmod(F.xxhash64("repo", "path"), F.lit(64))
    full = table.read().where(bucket == k)
    assert sorted(pruned.collect()) == sorted(full.collect())
    assert pruned.count() > 0
    events.unpersist()


def test_concurrent_commit_raises_not_clobbers(spark, tmp_root):
    """Optimistic concurrency: a writer whose manifest is based on a
    stale parent must get ConcurrentCommitError, not silently overwrite
    the winner's pointer."""
    from data_juicer_spark.lake.table import ConcurrentCommitError

    events = make_events(spark, 1000, 500).persist()
    table = SnapshotTable(spark, tmp_root, ["repo", "path"],
                          num_buckets=4, strategy="mor")
    CdcReplayer(table).replay(events)
    cur = table.current_snapshot()
    stale = dict(cur, snapshot_id="stale-123",
                 parent="not-the-current-snapshot")
    with pytest.raises(ConcurrentCommitError):
        table._commit(stale)
    # winner's state untouched; the loser's manifest was never persisted
    assert table.current_snapshot()["snapshot_id"] == cur["snapshot_id"]
    import os
    assert not os.path.exists(f"{tmp_root}/metadata/snap-stale-123.json")
    events.unpersist()


def test_reaped_lock_holder_loses_not_clobbers(spark, tmp_root):
    """A slow-but-alive writer whose lock was reaped past the stale
    horizon must get ConcurrentCommitError when it resumes, not swap the
    pointer over the thief's commit (lost-update prevention)."""
    import os

    from data_juicer_spark.lake.table import ConcurrentCommitError

    events = make_events(spark, 1000, 500).persist()
    table = SnapshotTable(spark, tmp_root, ["repo", "path"],
                          num_buckets=4, strategy="mor")
    CdcReplayer(table).replay(events)
    cur = table.current_snapshot()

    # simulate: our lock gets reaped and re-taken by another writer
    # between acquisition and the pointer swap
    token = table._acquire_lock()
    lock = f"{table._pointer()}.lock"
    with open(lock, "w") as f:
        f.write("someone-else")
    assert not table._owns_lock(token)
    table._release_lock(token)  # must NOT remove the thief's lock
    assert os.path.exists(lock)
    os.remove(lock)  # clear for part 2

    # _commit with a correct parent but a stolen lock: the ownership
    # recheck before os.replace must abort the swap
    attempt = dict(cur, snapshot_id="late-writer-1",
                   parent=cur["snapshot_id"])
    orig_acquire = SnapshotTable._acquire_lock

    def hijacked(self, *a, **kw):
        t = orig_acquire(self, *a, **kw)
        with open(f"{self._pointer()}.lock", "w") as f:
            f.write("thief")
        return t

    SnapshotTable._acquire_lock = hijacked
    try:
        with pytest.raises(ConcurrentCommitError, match="reaped"):
            table._commit(attempt)
    finally:
        SnapshotTable._acquire_lock = orig_acquire
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass
    assert table.current_snapshot()["snapshot_id"] == cur["snapshot_id"]
    assert not os.path.exists(f"{tmp_root}/metadata/snap-late-writer-1.json")
    events.unpersist()


def test_expire_grace_skips_young_data_dirs(spark, tmp_root):
    """Default data grace: freshly-written (possibly in-flight) data
    dirs survive expiry; manifests of old snapshots still expire."""
    events = make_events(spark, 2000, 250).persist()
    table = SnapshotTable(spark, tmp_root, ["repo", "path"],
                          num_buckets=8, strategy="mor", compact_every=3)
    CdcReplayer(table).replay(events)
    before = table_state(spark, table)
    stats = table.expire_snapshots(keep_last=2)  # default 300 s grace
    assert stats["data_dirs"] == 0  # everything here is seconds old
    assert len(table.snapshot_history()) == 2
    assert table_state(spark, table) == before
    events.unpersist()


def test_replay_cache_policy(spark, tmp_root):
    """replay() must NOT columnar-cache a file-backed log (a 10^10-event
    binlog can never fit; each epoch is a pruned scan instead), must
    auto-cache a synthesized input (else it recomputes per epoch), and
    both paths must produce the identical final table state."""
    events = make_events(spark, 2000, 500)
    log_dir = tmp_root + "/binlog"
    events.write.parquet(log_dir)
    from_disk = spark.read.parquet(log_dir)

    t_disk = SnapshotTable(spark, tmp_root + "/disk", ["repo", "path"],
                           num_buckets=8, strategy="mor")
    CdcReplayer(t_disk).replay(from_disk)
    # file-backed: replay must have left the input uncached
    assert from_disk.storageLevel.useMemory is False
    assert from_disk.storageLevel.useDisk is False

    t_gen = SnapshotTable(spark, tmp_root + "/gen", ["repo", "path"],
                          num_buckets=8, strategy="mor")
    CdcReplayer(t_gen).replay(events)
    # synthesized: replay caches internally and unpersists on exit
    assert events.storageLevel.useMemory is False

    # explicit override beats detection
    t_force = SnapshotTable(spark, tmp_root + "/force", ["repo", "path"],
                            num_buckets=8, strategy="mor")
    CdcReplayer(t_force).replay(from_disk, cache=True)
    assert from_disk.storageLevel.useMemory is False  # unpersisted after

    assert table_state(spark, t_disk) == table_state(spark, t_gen)
    assert table_state(spark, t_disk) == table_state(spark, t_force)
