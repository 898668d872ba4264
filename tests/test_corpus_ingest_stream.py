"""Streaming corpus ingestion e2e (streaming/ingest.py): raw document
batches -> gate -> corpus-wide incremental dedup -> versioned snapshot."""

from __future__ import annotations

import pytest

import json
import os

from pyspark.sql import functions as F

from momyre_spark.sinks.snapshots import (
    current_version,
    read_manifest,
    snapshot_read,
)
from momyre_spark.streaming.ingest import start_corpus_ingest

FIELDS = {"text": "string", "src": "string"}
SCHEMA = "doc_id long, text string, src string"


def _write_batch(d, name, rows):
    with open(os.path.join(d, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ingest(spark, src_dir, root, ck):
    stream = spark.readStream.schema(SCHEMA).json(src_dir)
    q = start_corpus_ingest(
        stream,
        root,
        ck,
        FIELDS,
        min_tokens=2,
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)


def test_ingest_gates_dedups_and_versions(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    root = str(tmp_path / "corpus")
    ck = str(tmp_path / "ck")

    _write_batch(
        src,
        "b1.json",
        [
            {"doc_id": 1, "text": "alpha beta gamma", "src": "a"},
            {"doc_id": 2, "text": "alpha beta gamma", "src": "b"},  # in-batch dup
            {"doc_id": 3, "text": "tiny", "src": "a"},  # gated: 1 token
            {"doc_id": 4, "text": "delta epsilon", "src": "b"},
        ],
    )
    _ingest(spark, src, root, ck)
    state = {r["_id"]: r["text"] for r in snapshot_read(spark, root).collect()}
    # min-id survivor of the dup pair; the 1-token doc gated out
    assert state == {"1": "alpha beta gamma", "4": "delta epsilon"}

    # batch 2: a cross-batch duplicate of doc 1 plus one genuinely new doc
    _write_batch(
        src,
        "b2.json",
        [
            {"doc_id": 9, "text": "alpha beta gamma", "src": "c"},  # corpus dup
            {"doc_id": 10, "text": "zeta eta theta", "src": "c"},
        ],
    )
    _ingest(spark, src, root, ck)
    state = {r["_id"]: r["text"] for r in snapshot_read(spark, root).collect()}
    assert "9" not in state  # deduped against the EXISTING corpus
    assert state["10"] == "zeta eta theta"
    assert len(state) == 3

    # versioned history: batch-1 state still readable via time travel
    v = current_version(spark, root)
    assert v >= 2
    old = {
        r["_id"] for r in snapshot_read(spark, root, version=v - 1).collect()
    }
    assert old == {"1", "4"}


def test_ingest_epoch_replay_is_noop(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    root = str(tmp_path / "corpus")

    _write_batch(
        src, "b1.json", [{"doc_id": 1, "text": "alpha beta", "src": "a"}]
    )
    _ingest(spark, src, root, str(tmp_path / "ck1"))
    v1 = current_version(spark, root)

    # a fresh checkpoint replays epoch 0 over the same input: the snapshot
    # must skip it (batch_id marker) and the fps dir rewrite is idempotent
    _ingest(spark, src, root, str(tmp_path / "ck2"))
    assert current_version(spark, root) == v1
    assert read_manifest(spark, root, v1)["batch_id"] == 0
    state = [r["_id"] for r in snapshot_read(spark, root).collect()]
    assert state == ["1"]


def test_ingest_compact_vacuum_ingest_lifecycle(spark, tmp_path):
    """The maintenance loop composes with live ingestion: several ingest
    versions -> OPTIMIZE compaction -> vacuum past the horizon -> more
    ingestion. State stays correct, epoch replay markers survive the
    compaction commit, and dedup still sees the whole corpus."""
    from momyre_spark.sinks.snapshots import (
        list_versions,
        snapshot_compact,
        snapshot_vacuum,
    )

    src = str(tmp_path / "in")
    os.makedirs(src)
    root = str(tmp_path / "corpus")
    ck = str(tmp_path / "ck")

    _write_batch(src, "b1.json",
                 [{"doc_id": 1, "text": "alpha beta gamma", "src": "a"}])
    _ingest(spark, src, root, ck)
    _write_batch(src, "b2.json",
                 [{"doc_id": 2, "text": "delta epsilon zeta", "src": "a"}])
    _ingest(spark, src, root, ck)
    _write_batch(src, "b2b.json",
                 [{"doc_id": 3, "text": "kappa lambda mu", "src": "a"}])
    _ingest(spark, src, root, ck)

    v = snapshot_compact(spark, root, target_file_bytes=1 << 30)  # may no-op
    dropped = snapshot_vacuum(spark, root, keep_last=2, sweep_orphans=True)
    assert dropped  # old ingest versions expired

    # ingestion continues after maintenance; corpus-wide dedup still holds
    _write_batch(src, "b3.json", [
        {"doc_id": 9, "text": "alpha beta gamma", "src": "b"},   # corpus dup
        {"doc_id": 10, "text": "eta theta iota", "src": "b"},
    ])
    _ingest(spark, src, root, ck)
    state = {r["_id"]: r["text"] for r in snapshot_read(spark, root).collect()}
    assert set(state) == {"1", "2", "3", "10"}
    assert list_versions(spark, root)[-1] > (v or 0)


def _state_files(root):
    """Leaf parquet file count across all ingest state dirs (base + tail)."""
    n = 0
    for dirpath, _dirs, files in os.walk(root):
        base = os.path.basename(dirpath)
        if not (
            "_fps" in dirpath or "_lsh_bands" in dirpath or "_lsh_sigs" in dirpath
        ):
            continue
        n += sum(1 for f in files if f.endswith(".parquet"))
        del base
    return n


@pytest.mark.slow
def test_ingest_state_compaction_bounds_files_and_stays_correct(spark, tmp_path):
    """20+ epochs with compact_every=5: the per-batch state read must open a
    BOUNDED number of files (base + short tail, not one dir per epoch), and
    dedup — exact and fuzzy — must keep working across the compaction
    boundary (state folded into base is still probed)."""
    from momyre_spark.streaming.ingest import (
        compact_ingest_state,
        ingest_batch,
        read_ingest_state,
    )

    root = str(tmp_path / "corpus")
    n_epochs = 21

    def batch(rows):
        return spark.createDataFrame(rows, SCHEMA)

    def text_for(e):
        return " ".join(f"tok{e}x{i}" for i in range(30))

    for e in range(n_epochs):
        rows = [{"doc_id": 100 + e, "text": text_for(e), "src": "a"}]
        if e == 15:
            # exact dup of epoch 2's doc — its fp now lives in the BASE
            rows.append({"doc_id": 900, "text": text_for(2), "src": "b"})
        if e == 16:
            # near-dup of epoch 3's doc — its LSH state lives in the BASE
            rows.append(
                {"doc_id": 901,
                 "text": text_for(3).replace("tok3x7", "EDITED"),
                 "src": "b"}
            )
        ingest_batch(
            batch(rows), e, root, FIELDS, min_tokens=2,
            fuzzy_threshold=0.7, fuzzy_num_hashes=32, fuzzy_bands=16,
            compact_every=5,
        )

    state = {r["_id"] for r in snapshot_read(spark, root).collect()}
    assert state == {str(100 + e) for e in range(n_epochs)}, state

    # file growth is bounded: base(3 tables * base_files) + short tail —
    # far below one-dir-per-epoch growth (>= n_epochs * 3 files)
    files = _state_files(root)
    assert files < n_epochs * 3, files

    # visible state is complete: every epoch's fp present exactly once
    fps = read_ingest_state(spark, root, "_fps", "fp string", n_epochs)
    assert fps.count() == n_epochs

    # a replay of the LAST epoch is still idempotent after compaction:
    # its own tail dir survived (keep_tail >= 1) and is excluded
    last = n_epochs - 1
    ingest_batch(
        batch([{"doc_id": 100 + last, "text": text_for(last), "src": "a"}]),
        last, root, FIELDS, min_tokens=2,
        fuzzy_threshold=0.7, fuzzy_num_hashes=32, fuzzy_bands=16,
    )
    assert {r["_id"] for r in snapshot_read(spark, root).collect()} == state

    # explicit maintenance call folds the remaining tail to (almost) nothing
    folded = compact_ingest_state(spark, root)
    assert set(folded) == {"_fps", "_lsh_bands", "_lsh_sigs"}
    fps2 = read_ingest_state(spark, root, "_fps", "fp string", n_epochs)
    assert fps2.count() == n_epochs

    # operational report reflects the compacted layout
    from momyre_spark.streaming.ingest import ingest_state_report

    rep = ingest_state_report(spark, root)
    assert set(rep) == {"_fps", "_lsh_bands", "_lsh_sigs"}
    for t, r in rep.items():
        assert r["base_version"] is not None, (t, r)
        assert r["tail_epochs"] <= 1, (t, r)  # keep_tail newest epoch only
        assert r["base_files"] >= 1
        assert r["partial_bases"] == 0, (t, r)  # no crashed rewrites here


def test_ingest_state_tail_read_partition_prunes(spark, tmp_path):
    """The replay-exclusion filter (epoch < E) must reach the tail scan as a
    PARTITION filter — a replayed epoch's own directory is pruned, not
    read-and-discarded."""
    from momyre_spark.streaming.ingest import ingest_batch

    root = str(tmp_path / "corpus")
    for e in range(3):
        df = spark.createDataFrame(
            [{"doc_id": e, "text": f"alpha beta tok{e}", "src": "a"}], SCHEMA
        )
        ingest_batch(df, e, root, FIELDS, min_tokens=2)

    from pyspark.sql import functions as F

    tail = spark.read.parquet(f"{root}/_fps").filter(F.col("epoch") < 2)
    plan = tail._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "epoch" in plan.split(
        "PartitionFilters"
    )[1][:120], plan
    # and the pruned read really excludes epoch 2's rows
    assert tail.count() == 2


@pytest.mark.slow
def test_compaction_crash_leaves_committed_base_authoritative(spark, tmp_path):
    """A crash mid base-rewrite leaves a marker-less partial v=K+1: readers
    must keep v=K authoritative (NOT the partial — reading it would silently
    pass replayed docs through dedup), and the next compaction must delete
    the partial, never the last committed base (ADVICE r04 high)."""
    import shutil

    from momyre_spark.streaming.ingest import (
        compact_ingest_state,
        ingest_batch,
        read_ingest_state,
    )

    root = str(tmp_path / "corpus")
    for e in range(6):
        df = spark.createDataFrame(
            [{"doc_id": e, "text": " ".join(f"q{e}w{i}" for i in range(25)),
              "src": "a"}], SCHEMA
        )
        ingest_batch(df, e, root, FIELDS, min_tokens=2)
    compact_ingest_state(spark, root)  # -> committed base v=1
    base = f"{root}/_fps_base"
    assert os.path.exists(f"{base}/v=1/_SUCCESS")
    n_committed = read_ingest_state(spark, root, "_fps", "fp string", 99).count()
    assert n_committed == 6

    # simulate the crash: a half-written v=2 (files copied, marker missing)
    shutil.copytree(f"{base}/v=1", f"{base}/v=2")
    os.remove(f"{base}/v=2/_SUCCESS")
    # poison the partial so reading it would be detectable as data loss
    for f in os.listdir(f"{base}/v=2"):
        if f.endswith(".parquet"):
            os.remove(f"{base}/v=2/{f}")

    # reader ignores the partial: state is still the 6 committed fps
    assert read_ingest_state(
        spark, root, "_fps", "fp string", 99
    ).count() == 6
    # the crash is visible to operators
    from momyre_spark.streaming.ingest import ingest_state_report

    assert ingest_state_report(spark, root)["_fps"]["partial_bases"] == 1

    # more epochs + compaction: partial cleaned, new COMMITTED version
    # numbered past the partial, nothing lost
    for e in range(6, 9):
        df = spark.createDataFrame(
            [{"doc_id": e, "text": " ".join(f"q{e}w{i}" for i in range(25)),
              "src": "a"}], SCHEMA
        )
        ingest_batch(df, e, root, FIELDS, min_tokens=2)
    compact_ingest_state(spark, root)
    assert not os.path.exists(f"{base}/v=2") or os.path.exists(
        f"{base}/v=2/_SUCCESS"
    )
    versions = sorted(
        int(d[2:]) for d in os.listdir(base) if d.startswith("v=")
    )
    assert len(versions) == 1 and versions[0] >= 3
    assert os.path.exists(f"{base}/v={versions[0]}/_SUCCESS")
    assert read_ingest_state(
        spark, root, "_fps", "fp string", 99
    ).count() == 9

    # a dup of epoch 0's doc is still caught after the crash-heal cycle
    dup = spark.createDataFrame(
        [{"doc_id": 999, "text": " ".join(f"q0w{i}" for i in range(25)),
          "src": "b"}], SCHEMA
    )
    ingest_batch(dup, 9, root, FIELDS, min_tokens=2)
    assert read_ingest_state(
        spark, root, "_fps", "fp string", 99
    ).count() == 9  # no new fingerprint: the dup was dropped


@pytest.mark.slow
def test_ingest_keeps_ivf_index_fresh(spark, tmp_path):
    """ivf_root wiring: each epoch's survivors land in the ANN index via
    O(batch) incremental adds — search over base+adds matches exact
    brute-force over everything ingested, and a replayed epoch does not
    double-index (VERDICT r04 item #4)."""
    import random

    from momyre_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_index_report,
        ivf_topk_indexed,
    )
    from momyre_spark.streaming.ingest import ingest_batch

    random.seed(23)
    root = str(tmp_path / "corpus")
    ivf = str(tmp_path / "ivf")
    fields = {"text": "string", "embedding": "array<double>"}
    schema = "doc_id long, text string, embedding array<double>"

    def vec():
        return [random.gauss(0, 1) for _ in range(8)]

    seed_rows = [
        {"doc_id": i, "text": " ".join(f"s{i}w{j}" for j in range(20)),
         "embedding": vec()}
        for i in range(40)
    ]
    seed = spark.createDataFrame(seed_rows, schema)
    build_ivf_index(seed.select("doc_id", "embedding"), ivf, num_cells=4,
                    centroids="first_c", id_col="doc_id")
    ingest_batch(seed, 0, root, fields, id_col="doc_id", min_tokens=2)

    all_rows = list(seed_rows)
    for e in (1, 2):
        rows = [
            {"doc_id": 100 * e + i,
             "text": " ".join(f"e{e}d{i}w{j}" for j in range(20)),
             "embedding": vec()}
            for i in range(15)
        ]
        all_rows += rows
        ingest_batch(
            spark.createDataFrame(rows, schema), e, root, fields,
            id_col="doc_id", min_tokens=2, ivf_root=ivf,
        )
    # replay epoch 2: the adds directory is overwritten, not doubled
    ingest_batch(
        spark.createDataFrame(
            [{"doc_id": 200 + i,
              "text": " ".join(f"e2d{i}w{j}" for j in range(20)),
              "embedding": all_rows[55 + i]["embedding"]}
             for i in range(15)], schema
        ),
        2, root, fields, id_col="doc_id", min_tokens=2, ivf_root=ivf,
    )
    assert ivf_index_report(spark, ivf)["rows"] == 70

    full = spark.createDataFrame(all_rows, schema).select(
        "doc_id", "embedding"
    )
    queries = full.filter(F.col("doc_id").isin(3, 101, 210))
    exact = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(
            full, queries, k=3, id_col="doc_id"
        ).collect()
    )
    got = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk_indexed(
            spark, ivf, queries, k=3, id_col="doc_id", nprobe=4
        ).collect()
    )
    assert got == exact


@pytest.mark.slow
def test_ingest_fuzzy_unpersists_batch_sigs(spark, tmp_path):
    """dedup_incremental_fuzzy caches the batch signatures per epoch; the
    ingest loop must unpersist them once the epoch's state is written
    (ADVICE: one leaked cached frame per epoch on a long-running stream)."""
    from momyre_spark.streaming.ingest import ingest_batch

    root = str(tmp_path / "corpus")
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    for e in range(3):
        df = spark.createDataFrame(
            [{"doc_id": e, "text": " ".join(f"w{e}x{i}" for i in range(20)),
              "src": "a"}], SCHEMA
        )
        ingest_batch(
            df, e, root, FIELDS, min_tokens=2,
            fuzzy_threshold=0.8, fuzzy_num_hashes=16, fuzzy_bands=4,
        )
    assert sc._jsc.getPersistentRDDs().size() <= before


@pytest.mark.slow
def test_ingest_fuzzy_drops_near_dups_across_epochs(spark, tmp_path):
    """With fuzzy_threshold set, a batch-2 document that NEAR-duplicates a
    batch-1 document (one-token edit — different fingerprint, so exact
    dedup passes it) is dropped via the persisted LSH state."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    root = str(tmp_path / "corpus")
    ck = str(tmp_path / "ck")

    base = " ".join(f"tok{i}" for i in range(40))
    near = base.replace("tok7", "EDITED")
    other = " ".join(f"zzz{i}" for i in range(40))

    def run():
        stream = spark.readStream.schema(SCHEMA).json(src)
        q = start_corpus_ingest(
            stream, root, ck, FIELDS, min_tokens=2,
            trigger={"availableNow": True}, fuzzy_threshold=0.8,
            fuzzy_num_hashes=32, fuzzy_bands=8,
        )
        # fail LOUDLY on a slow host instead of asserting half-finished
        # state (the full-suite flake mode of a bare awaitTermination)
        assert q.awaitTermination(300), "ingest epoch timed out"

    _write_batch(src, "b1.json", [
        {"doc_id": 1, "text": base, "src": "a"},
    ])
    run()
    _write_batch(src, "b2.json", [
        {"doc_id": 10, "text": near, "src": "b"},   # near-dup of doc 1
        {"doc_id": 11, "text": other, "src": "b"},  # genuinely new
    ])
    run()

    got = sorted(
        r["_id"] for r in snapshot_read(spark, root).select("_id").collect()
    )
    assert got == ["1", "11"], got
    # LSH state grew by the survivor only
    sigs = spark.read.parquet(f"{root}/_lsh_sigs")
    assert sorted(r["doc_id"] for r in sigs.collect()) == [1, 11]


@pytest.mark.slow
def test_ingest_keeps_ivfpq_index_fresh(spark, tmp_path):
    """ivf_kind='ivfpq': epochs append PQ-encoded rows (stored codebooks,
    stored cells) — full-probe covering-refine search over base+adds
    equals exact brute force over everything ingested."""
    import random

    from momyre_spark.operators.pq import build_ivfpq_index, ivfpq_topk_indexed
    from momyre_spark.operators.similarity import brute_force_topk
    from momyre_spark.streaming.ingest import ingest_batch

    random.seed(29)
    root = str(tmp_path / "corpus")
    ivf = str(tmp_path / "ivfpq")
    fields = {"text": "string", "embedding": "array<double>"}
    schema = "doc_id long, text string, embedding array<double>"

    def vec():
        return [random.gauss(0, 1) for _ in range(8)]

    seed_rows = [
        {"doc_id": i, "text": " ".join(f"s{i}w{j}" for j in range(20)),
         "embedding": vec()}
        for i in range(40)
    ]
    seed = spark.createDataFrame(seed_rows, schema)
    build_ivfpq_index(
        seed.select("doc_id", "embedding"), ivf, num_cells=4, m=4, codes=8,
        centroids="first_c", id_col="doc_id",
    )
    ingest_batch(seed, 0, root, fields, id_col="doc_id", min_tokens=2)

    all_rows = list(seed_rows)
    for e in (1, 2):
        rows = [
            {"doc_id": 100 * e + i,
             "text": " ".join(f"e{e}d{i}w{j}" for j in range(20)),
             "embedding": vec()}
            for i in range(15)
        ]
        all_rows += rows
        ingest_batch(
            spark.createDataFrame(rows, schema), e, root, fields,
            id_col="doc_id", min_tokens=2, ivf_root=ivf, ivf_kind="ivfpq",
        )
    corpus = spark.createDataFrame(all_rows, schema)
    q = corpus.filter("doc_id < 3")
    got = ivfpq_topk_indexed(
        spark, ivf, q, k=5, nprobe=4, refine=100, id_col="doc_id",
    )
    exact = brute_force_topk(corpus, q, k=5, id_col="doc_id")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_state_compaction_lets_keyboard_interrupt_through(
    spark, tmp_path, monkeypatch
):
    """A per-table failure is collected and re-raised after the others
    finish, but KeyboardInterrupt is not a table failure: it must surface
    as itself, not be shadowed by the first table's ValueError."""
    import momyre_spark.streaming.ingest as ingest

    def tail_epochs(_spark, tail_dir):
        table = tail_dir.rsplit("/", 1)[-1]
        if table == ingest._STATE_TABLES[0]:
            raise ValueError("first table failed")
        if table == ingest._STATE_TABLES[1]:
            raise KeyboardInterrupt
        return []

    monkeypatch.setattr(ingest, "_tail_epochs", tail_epochs)
    with pytest.raises(KeyboardInterrupt):
        ingest.compact_ingest_state(spark, str(tmp_path / "corpus"))
