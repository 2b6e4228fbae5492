"""Round-13 reference tests.

1. Stream-batch agreement (the VERDICT r12 task #2 contract): the
   streaming curation DAG's per-epoch derived cascade must equal the
   BATCH DAG (pipeline_curation_e2e — the round-12 driver-hashed
   query) executed on each epoch's corpus prefix. Verified here
   in-process against the real batch function on a hand-built golden
   corpus engineered so every cross-epoch mechanism fires: a
   cross-epoch exact clone, a containment RETRO-drop (an admitted doc
   leaves s2 when its container arrives later), a cross-epoch LSH
   near-dup, and a late-arriving benchmark shard that retroactively
   contaminates a previously-clean doc.
2. Golden gate pins on the same fixture: the standing pair relations
   must contain exactly the hand-derived pairs, per epoch.
3. Registry-level: the registry query's final epoch must equal the
   batch registry query row-for-row on the shared fixture tables.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from cdc_poc_spark.queries import all_specs

from .conftest import SF_DIR

# token vocabularies kept disjoint across families so only the
# ENGINEERED overlaps produce shingle/gram collisions
_STOPS = "the and of to"  # en stopwords (text.LANG_STOPWORDS['en'])


def _words(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


# family A: a 24-token doc (quality-passing: 20-200 tokens, stopwords)
_TA = _STOPS + " " + _words("alpha", 20)
# family B: a 6-token doc (>= 3 tokens => tier-eligible) later CONTAINED
_TB = _words("beta", 6)
# B's container: B's full token run plus 18 fresh tokens (containment
# c(B->7) = 1.0; Jaccard(B,7) = 4/26 < 0.5 so LSH stays quiet)
_TB_CONTAINER = _TB + " " + _STOPS + " " + _words("gamma", 14)
# family C: 24 tokens; near-dup variants change ONE middle token
# (Jaccard of 3-shingle sets ~ 19/25 >= 0.5)
_TC = _STOPS + " " + _words("delta", 20)
_TC_V1 = _TC.replace("delta10", "deltaX")
_TC_V2 = _TC.replace("delta15", "deltaY")
# benchmark 8-grams (decontam _BDC_N = 8)
_G1 = _words("haz", 8)
_G2 = _words("qux", 8)
# src0 benchmark docs carrying them (>= 8 tokens)
_TBENCH1 = _STOPS + " " + _G1 + " " + _words("benchpad", 8)
_TBENCH2 = _STOPS + " " + _G2 + " " + _words("benchpadtwo", 8)
# non-benchmark docs carrying those grams (contaminated once the gram
# is in the standing benchmark)
_TD_G2 = _STOPS + " " + _G2 + " " + _words("epsilon", 8)
_TE_G1 = _STOPS + " " + _G1 + " " + _words("zeta", 8)
_TF = _STOPS + " " + _words("eta", 20)

# (doc_id, source, lang, text) — ids strictly ordered across epochs
_EPOCHS = [
    [  # epoch 0
        (0, "src1", "en", _TA),
        (1, "src1", "en", _TA),  # exact clone of 0 (within-epoch)
        (2, "src1", "en", _TB),  # will be retro-contained by 7
        (3, "src1", "en", _TC),
        (4, "src2", "en", _TC_V1),  # near-dup of 3 (within-epoch)
        (5, "src0", "en", _TBENCH1),  # benchmark shard, gram G1
    ],
    [  # epoch 1
        (6, "src2", "en", _TA),  # exact clone of 0 (CROSS-epoch)
        (7, "src1", "en", _TB_CONTAINER),  # retro-contains doc 2
        (8, "src1", "en", _TC_V2),  # near-dup of 3 (CROSS-epoch)
        (9, "src2", "en", _TD_G2),  # clean NOW (G2 not in bench yet)
    ],
    [  # epoch 2
        (10, "src0", "en", _TBENCH2),  # late benchmark shard, gram G2
        (11, "src1", "en", _TE_G1),  # contaminated on arrival (G1)
        (12, "src2", "en", _TF),
    ],
]

# embeddings: 0 and 12 are near-identical vectors (semantic dup once
# both are canonical survivors); 3 is orthogonal-ish. vec_id = doc_id.
_EMB = [
    (0, [1.0, 0.0, 0.1, 0.0], 0),
    (3, [0.0, 1.0, 0.0, 0.1], 0),
    (12, [0.99, 0.01, 0.1, 0.0], 0),
]

_DOC_SCHEMA = "doc_id long, source string, lang string, text string"
_EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def _stage_frame(df):
    return sorted(
        tuple(r[c] for c in (
            "stage", "stage_name", "n_in", "n_dropped", "n_out",
            "survivor_id_sum", "aux",
        ))
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def stream_run(spark, tmp_path_factory):
    """Run the streaming drive once over the golden corpus; yield
    (out_dir, state_dir)."""
    from cdc_poc_spark.queries.curation import (
        _BDC_K,
        _BDC_M,
        _BDC_N,
        _PACK_BUDGET,
        _PACK_SHARDS,
    )
    from cdc_poc_spark.streaming import await_done
    from cdc_poc_spark.streaming.curation import QUALITY_MIN
    from cdc_poc_spark.streaming.curation_e2e import curation_stream_e2e

    work = str(tmp_path_factory.mktemp("stream_e2e"))
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir)
    for i, rows in enumerate(_EPOCHS):
        staged = os.path.join(work, f"staged{i}")
        spark.createDataFrame(rows, _DOC_SCHEMA).repartition(1).write.json(
            staged
        )
        (pf,) = [
            f
            for f in glob.glob(os.path.join(staged, "part-*"))
            if not f.endswith(".crc")
        ]
        dest = os.path.join(data_dir, f"b{i:03d}.json")
        shutil.move(pf, dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))
    emb = spark.createDataFrame(_EMB, _EMB_SCHEMA)
    stream = (
        spark.readStream.schema(_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(data_dir)
    )
    out_dir = os.path.join(work, "out")
    state_dir = os.path.join(work, "state")
    q = curation_stream_e2e(
        stream,
        emb,
        out_dir,
        state_dir,
        os.path.join(work, "ckpt"),
        bdc_n=_BDC_N,
        bdc_k=_BDC_K,
        bdc_m=_BDC_M,
        quality_min=QUALITY_MIN,
        pack_budget=_PACK_BUDGET,
        pack_shards=_PACK_SHARDS,
    ).start()
    await_done(q, 600)
    return out_dir, state_dir


@pytest.mark.slow
def test_stream_agrees_with_batch_per_epoch(spark, stream_run, tmp_path):
    """THE agreement contract: every epoch's derived cascade equals the
    batch DAG on that epoch's corpus prefix."""
    out_dir, _ = stream_run
    got = spark.read.parquet(out_dir)
    batch_fn = all_specs()["pipeline_curation_e2e"].fn
    prefix = []
    for k, rows in enumerate(_EPOCHS):
        prefix.extend(rows)
        sf_k = tmp_path / f"sf_ep{k}"
        os.makedirs(sf_k)
        spark.createDataFrame(prefix, _DOC_SCHEMA).coalesce(1).write.parquet(
            str(sf_k / "documents.parquet")
        )
        spark.createDataFrame(_EMB, _EMB_SCHEMA).coalesce(1).write.parquet(
            str(sf_k / "embeddings.parquet")
        )
        want = _stage_frame(batch_fn(spark, str(sf_k)))
        have = _stage_frame(got.filter(F.col("epoch") == k))
        assert have == want, f"epoch {k}: stream != batch-on-prefix"


def test_stream_golden_gate_pins(spark, stream_run):
    """Hand-derived cross-epoch mechanisms, pinned on the standing
    state relations the drive maintains."""
    out_dir, state_dir = stream_run
    canon = {
        (r["doc_id"], r["epoch"])
        for r in spark.read.parquet(os.path.join(state_dir, "canon")).collect()
    }
    # within-epoch clone (1) and CROSS-epoch clone (6) never become
    # canonical; everyone else does, at their arrival epoch
    assert (0, 0) in canon and (1, 0) not in canon
    assert not any(d == 6 for d, _ in canon)
    assert {(7, 1), (8, 1), (12, 2)} <= canon

    pc = {
        (r["id_a"], r["id_b"], r["epoch"])
        for r in spark.read.parquet(
            os.path.join(state_dir, "pairs_cont")
        ).collect()
    }
    # the containment RETRO-drop: doc 2 (epoch 0) is discovered
    # contained in doc 7 at doc 7's arrival epoch
    assert (2, 7, 1) in pc
    assert not any(e == 0 for _, _, e in pc)

    pl = {
        (r["id_a"], r["id_b"], r["epoch"])
        for r in spark.read.parquet(
            os.path.join(state_dir, "pairs_lsh")
        ).collect()
    }
    # within-epoch near-dup (3,4) at epoch 0; CROSS-epoch (3,8) and
    # (4,8) at epoch 1 (all three variants pairwise-verify >= 0.5)
    assert (3, 4, 0) in pl
    assert (3, 8, 1) in pl and (4, 8, 1) in pl

    rows = {
        (r["epoch"], r["stage"]): r
        for r in spark.read.parquet(out_dir).collect()
    }
    # late-benchmark contamination: epoch 1 decontam drops NOTHING
    # (doc 9's gram G2 is not yet in the benchmark); epoch 2 drops
    # BOTH doc 9 (retroactively, bench grew) and doc 11 (on arrival)
    assert rows[(1, 5)]["n_dropped"] == 0
    assert rows[(2, 5)]["n_dropped"] == 2
    # the containment retro-drop moves stage-2: epoch 0 drops nothing,
    # epoch 1 drops exactly doc 2 (id-sum delta pins WHICH doc)
    assert rows[(0, 2)]["n_dropped"] == 0
    assert rows[(1, 2)]["n_dropped"] == 1
    assert (
        rows[(1, 2)]["n_in"]
        == rows[(1, 1)]["n_out"]
    )
    assert (
        rows[(1, 1)]["survivor_id_sum"] - rows[(1, 2)]["survivor_id_sum"]
        == 2
    )
    # semdedup fires once docs 0 and 12 are both canonical survivors
    assert rows[(2, 4)]["n_dropped"] >= 1


@pytest.mark.slow
def test_stream_registry_query_final_epoch_matches_batch(spark):
    """The registry query (fixture tables, 3 id-ordered thirds) must
    end exactly where the batch registry query lands."""
    specs = all_specs()
    stream = specs["pipeline_curation_stream_e2e"].fn(spark, SF_DIR)
    batch = specs["pipeline_curation_e2e"].fn(spark, SF_DIR)
    have = _stage_frame(stream.filter(F.col("epoch") == 2))
    want = _stage_frame(batch)
    assert have == want


# ---------------------------------------------------------------------------
# 4. BPE train-to-vocab (pipeline_bpe_train_to_vocab)
# ---------------------------------------------------------------------------


def _bpe_train_to_vocab_py(word_counts: dict, v: int, max_rounds: int):
    """Pure-Python reference of the vocab-driven stopping rule: base
    alphabet census over the length>=2 word-type table, then the r11
    reference trainer bounded by vocab size."""
    from .test_round11_refs import _bpe_train_py

    base = {c for w in word_counts if len(w) >= 2 for c in w}
    merges = _bpe_train_py(word_counts, min(max_rounds, max(0, v - len(base))))
    return [
        (rnd, l, r, m, n, len(base) + rnd) for rnd, l, r, m, n in merges
    ]


def test_bpe_train_to_vocab_python_proof(spark):
    """Spark loop (stop_vocab) == the pure-Python reference on a hand
    corpus whose best-pair ties and stop boundary are known."""
    from collections import Counter

    from cdc_poc_spark.queries.pipeline import _bpe_train_spark

    corpus = [
        "banana band bandana",
        "banana banana cab",
        "a cab and a band",
    ]
    wc = Counter(w for line in corpus for w in line.split())
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    # base alphabet: {b,a,n,d,c} = 5 symbols; V=9 -> exactly 4 merges
    merges, _, wt = _bpe_train_spark(docs, 10, stop_vocab=9)
    wt.unpersist()
    want = _bpe_train_to_vocab_py(dict(wc), 9, 10)
    assert [tuple(m) for m in merges] == want
    assert len(merges) == 4 and merges[-1][5] == 9


def test_bpe_train_to_vocab_extends_k_rounds(spark):
    """The first 6 rows of the vocab-driven table equal
    pipeline_bpe_train_k_rounds' independently-oracled table — the
    stopping rule changes WHERE training ends, never the merge path."""
    specs = all_specs()
    to_v = {
        r["rnd"]: (r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in specs["pipeline_bpe_train_to_vocab"].fn(spark, SF_DIR).collect()
    }
    k6 = {
        r["rnd"]: (r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in specs["pipeline_bpe_train_k_rounds"].fn(spark, SF_DIR).collect()
    }
    assert len(to_v) > 6
    for rnd in k6:
        assert to_v[rnd] == k6[rnd], rnd


# ---------------------------------------------------------------------------
# 5. Mirror-table MERGE parity drill (cdc_mirror_merge_replay)
# ---------------------------------------------------------------------------


def test_mirror_merge_replay_reference_scenario(spark, tmp_path):
    """The reference's OWN seed scale (3 accounts + 2 products —
    postgres/scripts/seed/001_insert.sql) through the registry query's
    fixture contract: hand-computed trajectory. With max customer key
    m, the manual scripts add keys m+1 (derek) and m+2 (emily->emma),
    the %7 analog updates customers with key % 7 == 3, and the
    unqualified DELETE FROM empties the account mirror while product
    never changes."""
    import os

    docs_dir = tmp_path / "sf_ref"
    os.makedirs(docs_dir)
    spark.createDataFrame(
        [(1, "Customer#1", 0), (2, "Customer#2", 0), (3, "Customer#3", 0)],
        "c_custkey long, c_name string, c_nationkey int",
    ).coalesce(1).write.parquet(str(docs_dir / "customer.parquet"))
    spark.createDataFrame(
        [(1, "prod one"), (2, "prod two")],
        "p_partkey long, p_name string",
    ).coalesce(1).write.parquet(str(docs_dir / "part.parquet"))
    rows = {
        (r["epoch"], r["tbl"]): r
        for r in all_specs()["cdc_mirror_merge_replay"]
        .fn(spark, str(docs_dir))
        .collect()
    }
    # epoch 0: snapshots only
    assert rows[(0, "account")]["n_rows"] == 3
    assert rows[(0, "account")]["key_sum"] == 6
    assert rows[(0, "product")]["n_rows"] == 2
    # epoch 1: +derek (key 4) +emily->emma (key 5, in-batch LWW);
    # customer 3 (3 % 7 == 3) updated in place
    assert rows[(1, "account")]["n_rows"] == 5
    assert rows[(1, "account")]["key_sum"] == 15
    assert rows[(1, "account")]["payload_crc"] != rows[(0, "account")]["payload_crc"]
    _vals = lambda r: (r["n_rows"], r["key_sum"], r["payload_crc"])
    assert _vals(rows[(1, "product")]) == _vals(rows[(0, "product")])
    # epoch 2: DELETE FROM account — EMPTY mirror, product untouched
    assert rows[(2, "account")]["n_rows"] == 0
    assert rows[(2, "account")]["key_sum"] == 0
    assert _vals(rows[(2, "product")]) == _vals(rows[(0, "product")])
    # the apply_changes parity pin
    assert rows[(99, "account")]["n_rows"] == 0
    assert rows[(99, "product")]["n_rows"] == 0


def test_mirror_merge_in_batch_lww(spark, tmp_path):
    """The emily->emma in-batch last-writer-wins: the merge keeps the
    seq-15M update over the seq-10M insert of the SAME key in the SAME
    micro-batch — verified directly against merge_into_parquet_bucketed
    and the state it commits."""
    import os

    from cdc_poc_spark.cdc.apply import merge_into_parquet_bucketed
    from cdc_poc_spark.streaming.commit import BucketedState

    target = str(tmp_path / "mirror")
    batch = spark.createDataFrame(
        [
            (5, "emily@example.com", "c", 10),
            (5, "emma@example.com", "u", 15),
        ],
        "id long, val string, op string, seq long",
    )
    merge_into_parquet_bucketed(spark, target, batch, ["id"], n_buckets=4, epoch=0)
    assert os.path.exists(target)
    rows = BucketedState(spark, target).read().collect()
    assert len(rows) == 1
    assert rows[0]["val"] == "emma@example.com" and rows[0]["seq"] == 15


# ---------------------------------------------------------------------------
# 6. Crash-replay idempotence — the ADVICE-r12 fix demonstrated through
# REAL checkpoint surgery, not a unit stub: delete the final batch's
# commit marker and restart, so Structured Streaming re-delivers that
# batch after its state writes already landed (the exact crash window
# the epoch < batch_id standing-read filter exists for). Pre-fix code
# fails this test: the replayed batch sees its own prior admits at
# epoch == batch_id and rejects every one as a clone.
# ---------------------------------------------------------------------------


def _snap_dir(spark, path):
    import os

    if not os.path.exists(path):
        return None
    df = spark.read.parquet(path)
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def _replay_last_batch(ckpt: str) -> None:
    import glob
    import os

    commits = sorted(
        p
        for p in glob.glob(os.path.join(ckpt, "commits", "*"))
        if os.path.basename(p).isdigit()
    )
    assert commits, "no commits recorded"
    os.remove(commits[-1])
    # the local checksum FS keeps a .N.crc sidecar; a leftover blocks
    # the replayed commit's atomic rename (FileAlreadyExistsException)
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)


def test_ingest_gate_replay_idempotent(spark, tmp_path):
    """streaming/curation.py (the ADVICE-r12 medium item): replaying
    the final micro-batch after its survivors write must reproduce
    byte-identical dispositions AND index state."""
    import json as _json
    import os

    from cdc_poc_spark.streaming import await_done
    from cdc_poc_spark.streaming.curation import curation_ingest_stream

    def good(tag: str) -> str:
        return "the " + " ".join(f"{tag}w{i}" for i in range(24))

    base = spark.createDataFrame(
        [(1, "src1", good("base"))], "doc_id long, source string, text string"
    )
    bench = spark.createDataFrame(
        [(100, good("bench"))], "doc_id long, text string"
    )
    b0 = [
        {"doc_id": 10, "source": "src1", "text": good("adm0")},
        {"doc_id": 11, "source": "src1", "text": good("base")},  # clone
    ]
    b1 = [
        {"doc_id": 20, "source": "src1", "text": good("adm0")},  # clone of 10's admit
        {"doc_id": 21, "source": "src1", "text": good("adm1")},  # fresh admit
    ]
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    for i, rows in enumerate((b0, b1)):
        p = data_dir / f"b{i:03d}.json"
        p.write_text("\n".join(_json.dumps(r) for r in rows))
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    def start():
        stream = (
            spark.readStream.schema("doc_id long, source string, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(data_dir))
        )
        return curation_ingest_stream(
            stream, base, bench, str(tmp_path / "out"),
            str(tmp_path / "index"), str(tmp_path / "ckpt"),
        ).start()

    await_done(start(), 600)
    out0 = _snap_dir(spark, str(tmp_path / "out"))
    idx0 = _snap_dir(spark, str(tmp_path / "index"))
    # batch 1's admit (21) must be admitted and 20 rejected as a
    # cross-epoch clone — the state the replay must keep
    disp = {
        r["doc_id"]: r
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert disp[21]["admitted"] and not disp[20]["admitted"]
    assert disp[20]["is_clone"]
    _replay_last_batch(str(tmp_path / "ckpt"))
    await_done(start(), 600)
    assert _snap_dir(spark, str(tmp_path / "out")) == out0
    assert _snap_dir(spark, str(tmp_path / "index")) == idx0


@pytest.mark.slow
def test_stream_e2e_replay_idempotent(spark, stream_run, tmp_path_factory):
    """The streaming curation DAG: replay the final epoch via the same
    checkpoint surgery; every state relation, and the per-epoch stage
    rows, must come back byte-identical."""
    import os

    from cdc_poc_spark.queries.curation import (
        _BDC_K,
        _BDC_M,
        _BDC_N,
        _PACK_BUDGET,
        _PACK_SHARDS,
    )
    from cdc_poc_spark.streaming import await_done
    from cdc_poc_spark.streaming.curation import QUALITY_MIN
    from cdc_poc_spark.streaming.curation_e2e import (
        _STATE_SCHEMAS,
        curation_stream_e2e,
    )

    out_dir, state_dir = stream_run
    work = os.path.dirname(out_dir)
    before_out = _snap_dir(spark, out_dir)
    before_state = {
        k: _snap_dir(spark, os.path.join(state_dir, k)) for k in _STATE_SCHEMAS
    }
    _replay_last_batch(os.path.join(work, "ckpt"))
    emb = spark.createDataFrame(_EMB, _EMB_SCHEMA)
    stream = (
        spark.readStream.schema(_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(os.path.join(work, "data"))
    )
    q = curation_stream_e2e(
        stream, emb, out_dir, state_dir, os.path.join(work, "ckpt"),
        bdc_n=_BDC_N, bdc_k=_BDC_K, bdc_m=_BDC_M,
        quality_min=QUALITY_MIN, pack_budget=_PACK_BUDGET,
        pack_shards=_PACK_SHARDS,
    ).start()
    await_done(q, 600)
    assert _snap_dir(spark, out_dir) == before_out
    for k in _STATE_SCHEMAS:
        assert (
            _snap_dir(spark, os.path.join(state_dir, k)) == before_state[k]
        ), f"state relation {k} diverged on replay"


def test_semdedup_stream_replay_idempotent(spark, tmp_path):
    """streaming/semdedup.py: same crash window, same contract — the
    replayed final batch must reproduce identical dispositions and
    index (pre-fix, the epoch-1 survivor matched ITSELF as a dup on
    replay, and the restart's static base overwrite wiped epoch-0
    survivors)."""
    import json as _json
    import os

    from cdc_poc_spark.streaming import await_done
    from cdc_poc_spark.streaming.semdedup import semdedup_stream

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [0.0, 1.0, 0.0, 0.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    b0 = [{"vec_id": 10, "embedding": [0.0, 0.0, 1.0, 0.0]}]  # survivor
    b1 = [
        {"vec_id": 20, "embedding": [0.0, 0.0, 0.99, 0.01]},  # dup of 10
        {"vec_id": 21, "embedding": [0.0, 0.0, 0.0, 1.0]},  # survivor
    ]
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    for i, rows in enumerate((b0, b1)):
        p = data_dir / f"b{i:03d}.json"
        p.write_text("\n".join(_json.dumps(r) for r in rows))
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    def start():
        s = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .json(str(data_dir))
        )
        return semdedup_stream(
            s, corpus, str(tmp_path / "out"),
            str(tmp_path / "index"), str(tmp_path / "ckpt"),
        ).start()

    await_done(start(), 600)
    disp = {
        r["vec_id"]: r
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert not disp[10]["dropped"]
    assert disp[20]["dropped"] and disp[20]["nearest_dup_id"] == 10
    assert not disp[21]["dropped"]
    out0 = _snap_dir(spark, str(tmp_path / "out"))
    idx0 = _snap_dir(spark, str(tmp_path / "index"))
    _replay_last_batch(str(tmp_path / "ckpt"))
    await_done(start(), 600)
    assert _snap_dir(spark, str(tmp_path / "out")) == out0
    assert _snap_dir(spark, str(tmp_path / "index")) == idx0
