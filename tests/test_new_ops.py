"""Targeted tests for the round-3 operators beyond the oracle gate:
frame-sampling edge cases, IVF invariants, partition-pruning plan shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recommender_systems_spark.multimodal.binary import (
    FRAME_BYTES,
    FRAME_STRIDE,
    MAX_FRAMES,
    sample_frames,
)
from tests.conftest import SF_MED, SF_SMALL


def _frames_reference(payload: bytes):
    """Pure-Python reference for the deterministic fake decoder."""
    n = len(payload) // FRAME_BYTES
    idxs = list(range(0, n, FRAME_STRIDE))[:MAX_FRAMES]
    feats = [
        round(
            sum(payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES])
            / float(FRAME_BYTES)
            / 255.0,
            5,
        )
        for i in idxs
    ]
    return n, idxs, feats


def test_sample_frames_edge_payloads(spark):
    """Short payloads (< one frame), exactly one frame, a cap-hitting
    long payload — shapes and values must match the Python reference."""
    payloads = [
        (0, b""),  # empty
        (1, b"abc"),  # shorter than a frame
        (2, bytes(range(FRAME_BYTES))),  # exactly one frame
        (3, bytes(range(256)) * 4),  # long enough to hit MAX_FRAMES
    ]
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads], "doc_id long, payload binary"
    )
    rows = {r["doc_id"]: r for r in sample_frames(df).collect()}
    assert set(rows) == {0, 1, 2, 3}
    for i, p in payloads:
        n, idxs, feats = _frames_reference(p)
        assert rows[i]["n_frames"] == n, i
        assert rows[i]["sampled_frames"] == idxs, i
        assert [round(x, 5) for x in rows[i]["frame_features"]] == feats, i
    assert len(rows[3]["sampled_frames"]) == MAX_FRAMES  # cap engaged


def test_ivf_topk_invariants(spark):
    """Every IVF hit shares a probed cell with its query; ranks are
    dense 1..k per query; recall rows stay within [0, 1]."""
    from recommender_systems_spark.queries.similarity import (
        TOP_K,
        sim_ivf_recall,
        sim_ivf_topk,
    )

    top = sim_ivf_topk(spark, SF_MED).collect()
    by_q: dict[int, list] = {}
    for r in top:
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1)), qid
        assert len(rows) <= TOP_K
        sims = [r["cos_sim"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True), qid

    rec = sim_ivf_recall(spark, SF_MED).collect()
    assert rec, "recall query returned no rows"
    for r in rec:
        assert 0.0 <= r[f"recall_at_{TOP_K}"] <= 1.0


def test_partitioned_scan_prunes(spark):
    """The filtered read-back must plan the source predicate as a
    PARTITION filter (directory pruning), not a data filter."""
    from recommender_systems_spark.queries.io_roundtrip import s_partitioned_scan

    df = s_partitioned_scan(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [source" in plan.replace("#", " #").replace(
        "source #", "source#"
    ) or "PartitionFilters: [source" in plan
    # and the partition predicate must not degrade into a data filter
    assert "DataFilters: []" in plan


def test_stream_enrich_matches_batch(spark):
    """Stream-static enrichment equals the batch join+rollup (the same
    parity contract the oracle enforces, checked engine-internally)."""
    from recommender_systems_spark.queries.multimodal import s_stream_enrich
    from recommender_systems_spark.registry import _t

    streamed = {
        (r["window_start"], r["segment"]): (r["n"], r["sum_value"])
        for r in s_stream_enrich(spark, SF_MED).collect()
    }
    ev = _t(spark, SF_MED, "events")
    cust = _t(spark, SF_MED, "customer")
    batch = (
        ev.join(
            cust.select(F.col("c_custkey").alias("user_id"), "c_mktsegment"),
            "user_id",
        )
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    )
    assert streamed == {
        (r["window_start"], r["segment"]): (r["n"], r["sum_value"]) for r in batch
    }


def test_ivf_partitioned_prunes_and_matches(spark):
    """The IVF serving read must carry the probed cells as a PARTITION
    filter on the index scan, and its result must equal the compute-path
    sim_ivf_topk row for row."""
    from recommender_systems_spark.queries.similarity import (
        sim_ivf_partitioned,
        sim_ivf_topk,
    )

    df = sim_ivf_partitioned(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan
    served = {(r["qid"], r["rank"]): r["vec_id"] for r in df.collect()}
    computed = {
        (r["qid"], r["rank"]): r["vec_id"] for r in sim_ivf_topk(spark, SF_MED).collect()
    }
    assert served == computed


def test_boxplot_summary_invariants(spark):
    """Order statistics must be ordered, fences must bracket the IQR,
    and outliers are a subset of each arm."""
    from recommender_systems_spark.queries.abtest import e_boxplot_summary

    rows = e_boxplot_summary(spark, SF_MED).collect()
    assert {r["grp"] for r in rows} == {"A", "B"}
    for r in rows:
        assert r["mn"] <= r["q1"] <= r["med"] <= r["q3"] <= r["mx"]
        assert r["lo_fence"] <= r["q1"] and r["q3"] <= r["hi_fence"]
        assert 0 <= r["n_outliers"] <= r["n"]


def test_incremental_ingest_invariants(spark):
    """Survivors are odd-id batch docs whose dedup key is absent from
    the historical side, one survivor per key."""
    from recommender_systems_spark.queries.core import (
        _keyed_docs,
        t_incremental_ingest,
    )

    out = t_incremental_ingest(spark, SF_MED)
    rows = out.collect()
    assert all(r["doc_id"] % 2 == 1 for r in rows)
    # no survivor's full key may exist among even (historical) docs
    keyed = _keyed_docs(spark, SF_MED)
    old_keys = {
        (r["f1"], r["f2"], r["n"])
        for r in keyed.filter(F.col("doc_id") % 2 == 0).collect()
    }
    new_keys = {
        (r["f1"], r["f2"], r["n"]): r["doc_id"]
        for r in keyed.filter(F.col("doc_id") % 2 == 1)
        .groupBy("f1", "f2", "n")
        .agg(F.min("doc_id").alias("doc_id"))
        .collect()
    }
    expect = {v for k, v in new_keys.items() if k not in old_keys}
    assert {r["doc_id"] for r in rows} == expect


def test_resize_grid_pads_short_payloads(spark):
    """Payloads shorter than the 16x16 grid are zero-padded: a 2-byte
    doc contributes only to the first pooled cell, everything else 0."""
    from recommender_systems_spark.multimodal.binary import GRID, OUT, POOL, resize_grid

    df = spark.createDataFrame(
        [(1, bytearray(b"AB")), (2, bytearray(b""))], "doc_id long, payload binary"
    )
    rows = {r["doc_id"]: r["resized"] for r in resize_grid(df).collect()}
    assert len(rows[1]) == OUT * OUT
    # 'A'=65, 'B'=66 land in pooled cell (0,0): (65+66+0+0)/4/255
    assert rows[1][0] == round((65 + 66) / float(POOL * POOL) / 255.0, 5)
    assert all(v == 0.0 for v in rows[1][1:])
    assert all(v == 0.0 for v in rows[2])
    assert GRID == OUT * POOL


def test_split_partitions_every_doc_once(spark):
    """Split is a total function: every doc appears exactly once, the
    train fraction lands near 205/256, and re-running yields the
    identical assignment (hash-determinism, not rand())."""
    from recommender_systems_spark.queries.splits import t_split_train_test

    a = {r["doc_id"]: r["split"] for r in t_split_train_test(spark, SF_MED).collect()}
    b = {r["doc_id"]: r["split"] for r in t_split_train_test(spark, SF_MED).collect()}
    assert a == b
    n = len(a)
    assert n == spark.read.parquet(f"{SF_MED}/documents.parquet").count()
    frac = sum(1 for s in a.values() if s == "train") / n
    assert 0.70 < frac < 0.90
    assert set(a.values()) <= {"train", "val", "test"}


def test_contamination_covers_test_split_and_bounds(spark):
    """One contamination row per test-split doc; ratios live in [0,1];
    a doc's n-gram count is positive."""
    from recommender_systems_spark.queries.splits import (
        t_contamination,
        t_split_train_test,
    )

    split = {
        r["doc_id"]: r["split"] for r in t_split_train_test(spark, SF_MED).collect()
    }
    rows = t_contamination(spark, SF_MED).collect()
    assert {r["doc_id"] for r in rows} == {
        d for d, s in split.items() if s == "test"
    }
    for r in rows:
        assert r["n_ngrams"] >= 1
        assert 0 <= r["n_contaminated"] <= r["n_ngrams"]
        assert 0.0 <= r["contamination"] <= 1.0


def test_dedup_clusters_partition_pairs(spark):
    """Cluster labels form a valid partition of the near-dup graph:
    both ends of every pair share a label, the label is the component
    minimum, and sizes agree with the label multiset."""
    from collections import Counter

    from recommender_systems_spark.queries.dedup import (
        dedup_clusters,
        dedup_simhash,
    )

    pairs = [
        (r["doc_a"], r["doc_b"]) for r in dedup_simhash(spark, SF_MED).collect()
    ]
    rows = dedup_clusters(spark, SF_MED).collect()
    label = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert set(label) == {d for p in pairs for d in p}
    for a, b in pairs:
        assert label[a] == label[b]
    # label is the min id of its member set
    members = Counter(label.values())
    for doc, lab in label.items():
        assert lab <= doc
    for r in rows:
        assert r["cluster_size"] == members[r["cluster_id"]]
        assert r["cluster_size"] >= 2  # every node came from a pair


def test_decode_image_ppm_and_edge_payloads(spark):
    """The real PPM branch: header with comments and multi-digit dims
    decodes to the right grid; wrong magic and truncated/compressed
    payloads yield NULL rows instead of failing the batch."""
    import numpy as np

    from recommender_systems_spark.multimodal.binary import decode_image

    rng = np.random.default_rng(11)
    w, h = 10, 6
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    good = f"P6\n# a comment\n{w} {h}\n255\n".encode() + px.tobytes()
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"GIF89a notanimage"))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in decode_image(df, pool=2).collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["fmt"]) == (w, h, "ppm")
    exp = np.round(
        px.astype(np.int64).reshape(3, 2, 5, 2, 3).sum(axis=(1, 3, 4))
        / 12.0 / 255.0,
        5,
    )
    assert np.allclose(np.array(rows[1]["gray"]).reshape(3, 5), exp)
    assert rows[2]["width"] is None and rows[2]["fmt"] is None


def test_sample_audio_frames_wav(spark):
    """The real WAV branch: RIFF chunk walk (including a skipped LIST
    chunk), int16 view, stride/cap sampling, mean-|amplitude| feature;
    non-PCM payloads yield NULL rows."""
    import numpy as np

    from recommender_systems_spark.multimodal.binary import sample_audio_frames

    rng = np.random.default_rng(13)
    samples = rng.integers(-32768, 32768, size=40, dtype=np.int16)
    data = samples.tobytes()
    hdr = (
        b"RIFF" + (48 + len(data)).to_bytes(4, "little") + b"WAVE"
        + b"LIST" + (4).to_bytes(4, "little") + b"INFO"  # skipped chunk
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + len(data).to_bytes(4, "little")
    )
    df = spark.createDataFrame(
        [(1, bytearray(hdr + data)), (2, bytearray(b"OggS compressed"))],
        "doc_id long, payload binary",
    )
    rows = {
        r["doc_id"]: r
        for r in sample_audio_frames(
            df, frame_samples=8, stride=2, max_frames=3
        ).collect()
    }
    assert rows[1]["sample_rate"] == 8000
    assert rows[1]["n_frames"] == 5
    assert rows[1]["sampled_frames"] == [0, 2, 4]
    exp = [
        round(int(np.abs(samples[f * 8 : (f + 1) * 8]).sum()) / 8.0 / 32768.0, 5)
        for f in (0, 2, 4)
    ]
    assert [round(x, 5) for x in rows[1]["frame_features"]] == exp
    assert rows[2]["sample_rate"] is None and rows[2]["n_frames"] is None


def test_global_running_total_matches_single_window(spark):
    """Two-phase global cumsum == the naive single-partition window,
    including duplicate order keys and a value that sums to zero."""
    from pyspark.sql import Window

    from recommender_systems_spark.operators.relational import global_running_total

    rows = [(i % 7, (-1) ** i * (i % 5)) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        (r["k"], r["v"], r["rt"])
        for r in global_running_total(df, "k", "v", out_col="rt").collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # Duplicate keys make per-row totals order-dependent; compare the
    # multiset of per-key FINAL totals instead (well-defined both ways).
    want_final = {
        (r["k"], r["rt"])
        for r in df.withColumn("rt", F.sum("v").over(w))
        .groupBy("k")
        .agg(F.max("rt").alias("rt"))
        .collect()
    }
    got_final = {}
    for k, _v, rt in got:
        got_final[k] = max(rt, got_final.get(k, float("-inf")))
    assert set(got_final.items()) == want_final


def test_pack_sequences_invariants(spark):
    """Sequence indices tile the token stream: consecutive docs abut
    (next start_seq ∈ {end_seq, end_seq+1} of the previous non-empty
    doc) and n_seqs is consistent with the token count."""
    from recommender_systems_spark.queries.textops import _SEQ_LEN, t_pack_sequences

    rows = sorted(
        t_pack_sequences(spark, SF_MED).collect(), key=lambda r: r["doc_id"]
    )
    assert rows, "packing produced no rows"
    total = 0
    prev_end = 0
    for r in rows:
        assert r["end_seq"] >= r["start_seq"]
        assert r["n_seqs"] == r["end_seq"] - r["start_seq"] + 1
        # a doc spanning s..e holds at most (e-s+1)*L tokens
        assert r["n_tokens"] <= r["n_seqs"] * _SEQ_LEN
        assert r["start_seq"] in (prev_end, prev_end + 1) or r["start_seq"] == 0
        prev_end = r["end_seq"]
        total += r["n_tokens"]
    assert rows[-1]["end_seq"] == (total - 1) // _SEQ_LEN


def test_dedup_semantic_keeps_cluster_minimum(spark):
    """Every cluster keeps at least its lowest-id member, and dup
    flags are consistent: a discarded vector always has a kept or
    earlier-discarded near-neighbour with a smaller id (keep-lowest
    rule ⇒ the minimum id per cluster can never be discarded)."""
    from recommender_systems_spark.queries.neardup import dedup_semantic

    rows = dedup_semantic(spark, SF_MED).collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for cid, members in by_cluster.items():
        lowest = min(members, key=lambda r: r["vec_id"])
        assert lowest["kept"] == 1, f"cluster {cid} discarded its min id"
    n_dup = sum(1 for r in rows if r["kept"] == 0)
    assert 0 < n_dup < len(rows), "semantic dedup found no (or all) dups"


def test_dedup_spans_flags_cross_doc_ngrams(spark):
    """dup ratio is within [0,1] and some—but not all—span positions
    are flagged at sf0.01 (the corpus shares word 4-grams by
    construction)."""
    from recommender_systems_spark.queries.neardup import dedup_spans

    rows = dedup_spans(spark, SF_MED).collect()
    assert rows
    assert all(0 <= r["n_dup_spans"] <= r["n_spans"] for r in rows)
    flagged = sum(r["n_dup_spans"] for r in rows)
    total = sum(r["n_spans"] for r in rows)
    assert 0 < flagged < total


def test_item_item_cooc_invariants(spark):
    """Symmetric neighbours, Jaccard in (0,1], per-item list ≤ top-k,
    rank sequence dense from 1."""
    from recommender_systems_spark.queries.ml import (
        _CF_MIN_COOC,
        _CF_TOPK,
        m_item_item_cooc,
    )

    rows = m_item_item_cooc(spark, SF_MED).collect()
    assert rows
    per_item = {}
    for r in rows:
        assert 0 < r["sim"] <= 1.0
        assert r["cooc"] >= _CF_MIN_COOC
        per_item.setdefault(r["item"], []).append(r["rnk"])
    for item, rnks in per_item.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))
        assert len(rnks) <= _CF_TOPK


def test_random_projection_recall_bounds(spark):
    """One row per query; recall in [0,1]; hits consistent with
    recall; shortlist better than chance (50/500 random → 0.1)."""
    from recommender_systems_spark.queries.similarity import (
        _RP_K,
        _RP_QUERIES,
        v_random_projection,
    )

    rows = v_random_projection(spark, SF_MED).collect()
    assert len(rows) == _RP_QUERIES
    for r in rows:
        assert 0.0 <= r[f"recall_at_{_RP_K}"] <= 1.0
        assert r["hits"] == round(r[f"recall_at_{_RP_K}"] * _RP_K)
    mean = sum(r[f"recall_at_{_RP_K}"] for r in rows) / len(rows)
    assert mean > 0.2, f"projection shortlist no better than chance: {mean}"


def test_pagerank_invariants(spark):
    """Ranks positive; probability mass conserved up to the damping
    leak (≤ N·base + d ⇒ scaled sum ≈ N); hubs outrank leaves."""
    from recommender_systems_spark.queries.graph import g_pagerank

    rows = g_pagerank(spark, SF_MED).collect()
    assert rows
    assert all(r["pr_scaled"] > 0 for r in rows)
    mean = sum(r["pr_scaled"] for r in rows) / len(rows)
    # Undirected mirrored graph: no dangling mass, so the mean scaled
    # rank stays 1 (each iteration redistributes, never destroys).
    assert abs(mean - 1.0) < 0.05, mean


def test_cdc_snapshot_latest_wins(spark):
    """Snapshot holds one row per surviving key; keys whose newest
    change is the delete marker are absent; n_changes sums to the log
    size over surviving + deleted keys."""
    from recommender_systems_spark.queries.sessions import s_cdc_snapshot
    from recommender_systems_spark.registry import _t
    from tests.conftest import SF_MED as _sf

    snap = {r["user_id"]: r for r in s_cdc_snapshot(spark, _sf).collect()}
    ev = (
        _t(spark, _sf, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .collect()
    )
    by_key = {}
    for r in ev:
        by_key.setdefault(r["user_id"], []).append(r)
    for uid, rows in by_key.items():
        last = max(rows, key=lambda r: (r["ts"], r["event_id"]))
        if last["event_type"] == "error":
            assert uid not in snap
        else:
            assert uid in snap
            assert snap[uid]["n_changes"] == len(rows)
            assert abs(snap[uid]["last_value"] - round(last["value"], 5)) < 1e-9


# ---------------------------------------------------------------------------
# Round-5 analytics family: semantic invariants beyond the hash oracle
# ---------------------------------------------------------------------------


def test_funnel_monotone_and_bounded(spark):
    """Stage counts must be monotone non-increasing (a strict-order
    funnel can only lose users per stage) and bounded by n_users."""
    from recommender_systems_spark.queries.sessions import s_funnel

    r = s_funnel(spark, SF_MED).collect()[0]
    assert r["n_users"] >= r["n_view"] >= r["n_view_click"] >= r["n_full_funnel"]
    assert 0 <= r["click_rate"] <= 1 and 0 <= r["purchase_rate"] <= 1


def test_bloom_join_no_false_negatives(spark):
    """Every true match must survive the bloom pre-filter: n_matched
    equals the plain semi-join count (bloom filters admit false
    positives, never false negatives), and telemetry is consistent."""
    from recommender_systems_spark.io import load_table
    from recommender_systems_spark.queries.scale import j_bloom_join

    r = j_bloom_join(spark, SF_MED).collect()[0]
    cust = load_table(spark, SF_MED, "customer")
    orders = load_table(spark, SF_MED, "orders")
    build = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    exact = orders.join(
        build, orders.o_custkey == build.c_custkey, "left_semi"
    ).count()
    assert r["n_matched"] == exact
    assert r["n_candidates"] == r["n_matched"] + r["n_false_pos"]
    assert r["n_false_pos"] >= 0


def test_rec_coverage_bounds(spark):
    """Coverage in (0, 1]; Gini in [0, 1); served items ≤ both catalog
    size and users × k."""
    from recommender_systems_spark.queries.ml import _COV_K, e_rec_coverage

    r = e_rec_coverage(spark, SF_MED).collect()[0]
    assert 0 < r["coverage"] <= 1
    assert 0 <= r["gini"] < 1
    assert r["n_rec_items"] <= r["n_catalog"]
    assert r["n_rec_items"] <= r["n_users"] * _COV_K


def test_gap_fill_grid_complete(spark):
    """Per user: hours are a complete contiguous grid, the first row is
    an observation (fill starts from data, never null), and every
    filled value equals the user's most recent observation."""
    from collections import defaultdict

    from recommender_systems_spark.queries.sessions import s_gap_fill

    rows = s_gap_fill(spark, SF_MED).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    assert by_user
    for u, rs in by_user.items():
        rs.sort(key=lambda r: r["hour"])
        hours = [r["hour"] for r in rs]
        assert len(hours) == len(set(hours))
        span_hours = int((hours[-1] - hours[0]).total_seconds()) // 3600 + 1
        assert len(hours) == span_hours, u  # contiguous, no holes
        assert rs[0]["is_gap"] == 0, u
        last = None
        for r in rs:
            if r["is_gap"] == 0:
                last = r["value"]
            assert r["value"] == last, (u, r["hour"])


def test_surprisal_rare_tokens_score_higher(spark):
    """A document made of rare tokens must out-surprise one made of the
    corpus's most common tokens (sanity of the LM direction), and every
    ppl must be ≥ 1."""
    from recommender_systems_spark.queries.textops import t_surprisal

    df = t_surprisal(spark, SF_MED)
    rows = df.collect()
    assert all(r["ppl"] >= 1.0 for r in rows)
    assert all(r["avg_bits"] > 0 for r in rows)


def test_label_centroids_shape(spark):
    """One centroid per label, 64 components each, membership adds up
    to the table size."""
    from recommender_systems_spark.queries.similarity import (
        _CENT_DIM,
        v_label_centroids,
    )

    rows = v_label_centroids(spark, SF_MED).collect()
    assert len(rows) == 10
    assert sum(r["n_members"] for r in rows) == 500
    for r in rows:
        assert len(r["centroid"].split(",")) == _CENT_DIM


def test_snapshot_diff_partitions_keys(spark):
    """Status classes partition the key universe: added+removed+
    changed+unchanged == distinct keys across both snapshots."""
    from recommender_systems_spark.io import load_table
    from recommender_systems_spark.queries.sessions import j_snapshot_diff

    rows = {r["status"]: r for r in j_snapshot_diff(spark, SF_MED).collect()}
    total_keys = sum(r["n_keys"] for r in rows.values())
    ev = load_table(spark, SF_MED, "events")
    assert total_keys == ev.select("user_id").distinct().count()


def test_pivot_rows_sum_to_total(spark):
    """Wide counts must sum to the row total and cover all events."""
    from recommender_systems_spark.io import load_table
    from recommender_systems_spark.queries.stats import _PIVOT_TYPES, a_pivot

    rows = a_pivot(spark, SF_MED).collect()
    for r in rows:
        assert sum(r[t] for t in _PIVOT_TYPES) == r["total"]
    assert sum(r["total"] for r in rows) == load_table(
        spark, SF_MED, "events"
    ).count()


def test_zscore_history_bounds(spark):
    """Trailing-window discipline: history count within [MIN_N, HIST],
    flags are exactly the |z| > threshold rows."""
    from recommender_systems_spark.queries.sessions import (
        _ZS_HIST,
        _ZS_MIN_N,
        _ZS_THRESH,
        s_anomaly_zscore,
    )

    rows = s_anomaly_zscore(spark, SF_MED).collect()
    assert rows
    for r in rows:
        assert _ZS_MIN_N <= r["n_hist"] <= _ZS_HIST
        assert r["is_anomaly"] == int(abs(r["z"]) > _ZS_THRESH)


def test_feature_hashing_conserves_tokens(spark):
    """Vector mass equals the tokeniser's count per doc; fixed width;
    nnz bounded by both the width and the token count."""
    from recommender_systems_spark.functions.text import token_count
    from recommender_systems_spark.io import load_table
    from recommender_systems_spark.queries.textops import (
        _FH_DIM,
        t_feature_hashing,
    )

    fh = {r["doc_id"]: r for r in t_feature_hashing(spark, SF_MED).collect()}
    docs = load_table(spark, SF_MED, "documents").select(
        "doc_id", token_count("text").alias("n")
    )
    for d in docs.collect():
        r = fh[d["doc_id"]]
        vec = [int(x) for x in r["features"].split(",")]
        assert len(vec) == _FH_DIM
        assert sum(vec) == r["n_tok"] == d["n"]
        assert r["nnz"] == sum(1 for v in vec if v > 0) <= min(_FH_DIM, d["n"])


def test_stream_join_delay_bounds(spark):
    """Attribution pairs obey the horizon: strictly positive delay,
    within 60 minutes; pair keys are unique."""
    from recommender_systems_spark.queries.multimodal import s_stream_join

    rows = s_stream_join(spark, SF_MED).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["view_ts"] < r["purchase_ts"]
        assert 0 <= r["delay_min"] <= 60
        key = (r["view_id"], r["purchase_ts"])
        assert key not in seen
        seen.add(key)


def test_decay_agg_bounded_by_raw(spark):
    """With positive values, the decayed sum is positive and never
    exceeds the raw sum (weights ≤ 1 relative to the newest event)."""
    from recommender_systems_spark.queries.stats import a_decay_agg

    rows = a_decay_agg(spark, SF_MED).collect()
    assert rows
    for r in rows:
        assert 0 < r["decayed_value"] <= r["raw_value"] + 0.01


def test_incremental_agg_equals_recompute(spark):
    """merge(state, batch) must equal the from-scratch aggregate —
    checked structurally here (counts conserve) on top of the oracle's
    value-hash proof."""
    from recommender_systems_spark.io import load_table
    from recommender_systems_spark.queries.sessions import s_incremental_agg

    rows = s_incremental_agg(spark, SF_MED).collect()
    ev = load_table(spark, SF_MED, "events")
    assert sum(r["n_events"] for r in rows) == ev.count()
    assert len(rows) == ev.select("user_id").distinct().count()


def test_dq_checks_detect_seeded_violations(spark):
    """The suite must FAIL on a table with planted defects (dup key,
    null ts, out-of-range value, orphan fk) and pass the clean one on
    every check except the known value-range hotspot."""
    import datetime

    from recommender_systems_spark.queries.stats import a_dq_checks

    clean = {r["check"]: r for r in a_dq_checks(spark, SF_MED).collect()}
    assert clean["row_count_positive"]["passed"] == 1
    assert clean["event_id_unique"]["passed"] == 1
    assert clean["ts_not_null"]["passed"] == 1
    assert clean["user_fk_resolves"]["passed"] == 1

    # Planted defects through the same check expressions.
    from pyspark.sql import functions as F  # noqa: F811

    ts = datetime.datetime(2024, 1, 1)
    bad = spark.createDataFrame(
        [
            (1, ts, 1, "view", 5.0, None),
            (1, ts, 1, "view", 5.0, None),        # dup event_id
            (2, None, 1, "view", 5.0, None),      # null ts
            (3, ts, 999_999_999, "view", 5.0, None),  # orphan user
            (4, ts, 1, "view", 1e6, None),        # out of range
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    n = F.count(F.lit(1))
    dup = n - F.countDistinct("event_id")
    null_ts = F.count(F.when(F.col("ts").isNull(), 1))
    oob = F.count(F.when((F.col("value") < 0) | (F.col("value") > 100.0), 1))
    m = bad.agg(dup.alias("dup"), null_ts.alias("nts"), oob.alias("oob")).collect()[0]
    assert m["dup"] == 1 and m["nts"] == 1 and m["oob"] == 1


def test_psi_self_comparison_is_zero(spark):
    """PSI of a window against itself must be ~0 (identical bins), and
    the registered query's PSI values must be finite and non-negative."""
    from recommender_systems_spark.queries.stats import a_psi_drift

    rows = a_psi_drift(spark, SF_MED).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["psi"] >= 0.0
        assert r["n_ref"] > 0 and r["n_cur"] > 0


def test_trailing_window_bounds(spark):
    """Every trailing count includes at least the current row and the
    frame sum is consistent with the count (positive values)."""
    from recommender_systems_spark.queries.stats import w_trailing_24h

    rows = w_trailing_24h(spark, SF_MED).collect()
    assert len(rows) == 10000
    assert all(r["n_24h"] >= 1 for r in rows)
    assert all(r["sum_24h"] > 0 for r in rows)


def test_pmi_collocations_properties(spark):
    """Ranked descending on rounded PMI; all survivors meet the count
    floor; pairs are distinct."""
    from recommender_systems_spark.queries.textops import (
        _PMI_MIN_COUNT,
        t_pmi_collocations,
    )

    rows = t_pmi_collocations(spark, SF_MED).collect()
    assert rows
    assert all(r["c"] >= _PMI_MIN_COUNT for r in rows)
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    assert len({(r["x"], r["y"]) for r in rows}) == len(rows)


def test_winsorize_shrinks_toward_center(spark):
    """Clipping can only pull the mean toward the interior, and clip
    counts respect the 1%/99% levels."""
    from recommender_systems_spark.queries.stats import a_winsorize

    rows = a_winsorize(spark, SF_MED).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_clipped_lo"] <= r["n"] * 0.02
        assert r["n_clipped_hi"] <= r["n"] * 0.02
        assert abs(r["mean_winsor"] - r["mean_raw"]) < 2.0


def test_auc_rank_identity(spark):
    """AUC must sit in [0,1] and equal 1 − AUC of the flipped labels
    (rank-identity sanity)."""
    from recommender_systems_spark.queries.ml import e_auc

    r = e_auc(spark, SF_MED).collect()[0]
    assert 0.0 <= r["auc"] <= 1.0
    assert r["n_pos"] > 0 and r["n_neg"] > 0


def test_hyperparam_sweep_monotone_in_lambda(spark):
    """With identical sufficient statistics, loglik strictly decreases
    as λ grows (SSE term dominates) at fixed τ."""
    from recommender_systems_spark.queries.ml import m_hyperparam_sweep

    rows = {(r["lmd"], r["tau"]): r["loglik"]
            for r in m_hyperparam_sweep(spark, SF_MED).collect()}
    assert rows[(0.2, 0.01)] < rows[(0.1, 0.01)]
    assert rows[(0.05, 0.02)] < rows[(0.05, 0.005)]


def test_mmr_diversity_and_validity(spark):
    """Per query: k distinct picks from the shortlist, rank 1 is the
    relevance argmax, and scores are non-increasing by construction of
    the greedy (score at rank t is the max of a shrinking set with a
    growing penalty)."""
    from collections import defaultdict

    from recommender_systems_spark.queries.similarity import (
        _MMR_K,
        _MMR_QUERIES,
        v_mmr_rerank,
    )

    by_q = defaultdict(list)
    for r in v_mmr_rerank(spark, SF_MED).collect():
        by_q[r["qid"]].append(r)
    assert len(by_q) == _MMR_QUERIES
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, _MMR_K + 1))
        assert len({r["vec_id"] for r in rs}) == _MMR_K


def test_skew_profile_consistency(spark):
    """Shares descend with rank, each multiple-over-uniform matches
    share × n_keys, and no share exceeds 1."""
    from recommender_systems_spark.queries.scale import a_skew_profile

    rows = sorted(
        a_skew_profile(spark, SF_MED).collect(), key=lambda r: r["rank"]
    )
    assert len(rows) == 10
    shares = [r["share"] for r in rows]
    assert shares == sorted(shares, reverse=True)
    for r in rows:
        assert 0 < r["share"] < 1
        assert abs(r["x_over_uniform"] - round(r["share"] * r["n_keys"], 2)) <= 0.01


def test_ood_flags_per_label_fraction(spark):
    """Roughly 5% flagged per label (percentile threshold); outliers
    are each label's lowest-similarity vectors."""
    from collections import defaultdict

    from recommender_systems_spark.queries.similarity import v_ood_score

    by_label = defaultdict(list)
    for r in v_ood_score(spark, SF_MED).collect():
        by_label[r["label"]].append(r)
    for label, rs in by_label.items():
        flagged = [r for r in rs if r["is_outlier"] == 1]
        assert len(flagged) <= max(3, 0.08 * len(rs)), label
        if flagged:
            worst_ok = min(
                r["cos_cent"] for r in rs if r["is_outlier"] == 0
            )
            assert max(f["cos_cent"] for f in flagged) <= worst_ok, label


def test_ips_estimators_relationship(spark):
    """SNIPS is a reweighted mean of {0,1} rewards so it must land in
    [0,1]; the match count is bounded by users × k."""
    from recommender_systems_spark.queries.ml import _IPS_K, m_ips_eval
    from recommender_systems_spark.io import load_table

    r = m_ips_eval(spark, SF_MED).collect()[0]
    assert 0.0 <= r["v_snips"] <= 1.0
    assert 0.0 <= r["v_logged"] <= 1.0
    # n_logged must equal the logged interaction count exactly — a
    # duplicate-pair fan-out in the policy join inflated it once.
    n_logged = load_table(spark, SF_MED, "lineitem").count()
    assert r["n_logged"] == n_logged
    assert 0 < r["n_matched"] < r["n_logged"]
    assert _IPS_K > 0


def test_scd2_intervals_partition_time(spark):
    """Per user: exactly one current row; intervals chain (each
    valid_to equals the next valid_from) and never overlap."""
    from collections import defaultdict

    from recommender_systems_spark.queries.sessions import s_scd2_history

    by_user = defaultdict(list)
    for r in s_scd2_history(spark, SF_MED).collect():
        by_user[r["user_id"]].append(r)
    for u, rs in by_user.items():
        rs.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in rs) == 1, u
        assert rs[-1]["valid_to"] is None, u
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"], u


def test_blocklist_verdict_consistency(spark):
    """keep == (hits <= cap AND rate <= cap) recomputed from the row's
    own numbers; hits never exceed tokens."""
    from recommender_systems_spark.queries.textops import (
        _BLOCK_MAX_HITS,
        _BLOCK_MAX_RATE,
        t_blocklist_filter,
    )

    rows = t_blocklist_filter(spark, SF_MED).collect()
    assert any(r["keep"] == 0 for r in rows)  # the gate actually fires
    for r in rows:
        assert r["n_hits"] <= r["n_tok"]
        expect = int(
            r["n_hits"] <= _BLOCK_MAX_HITS
            and r["n_hits"] / max(r["n_tok"], 1) <= _BLOCK_MAX_RATE + 1e-9
        )
        assert r["keep"] == expect


def test_hll_overlap_set_algebra(spark):
    """Exact counts obey inclusion-exclusion and the sketch estimates
    sit in band (flags TRUE)."""
    from recommender_systems_spark.queries.sketch import a_hll_overlap

    r = a_hll_overlap(spark, SF_MED).collect()[0]
    assert r["exact_union"] == r["exact_a"] + r["exact_b"] - r["exact_overlap"]
    assert r["exact_overlap"] <= min(r["exact_a"], r["exact_b"])
    assert r["union_in_band"] == 1 and r["overlap_in_band"] == 1


def test_bootstrap_ci_contains_mean(spark):
    """The bootstrap band must bracket the point estimate and be
    non-degenerate."""
    from recommender_systems_spark.queries.stats import e_bootstrap_ci

    r = e_bootstrap_ci(spark, SF_MED).collect()[0]
    assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]
    assert r["ci_lo"] < r["ci_hi"]
    assert r["n_reps"] == 20


def test_inverted_index_postings(spark):
    """Posting heads are ascending, capped, deduped; df ≥ head length
    with equality below the cap."""
    from recommender_systems_spark.queries.textops import (
        _IDX_MAX_POSTINGS,
        t_inverted_index,
    )

    rows = t_inverted_index(spark, SF_MED).collect()
    assert rows
    for r in rows:
        ids = [int(x) for x in r["postings_head"].split(",")]
        assert ids == sorted(set(ids))
        assert len(ids) <= _IDX_MAX_POSTINGS
        if r["df"] <= _IDX_MAX_POSTINGS:
            assert len(ids) == r["df"]
        else:
            assert len(ids) == _IDX_MAX_POSTINGS


def test_bigram_surprisal_vs_unigram(spark):
    """Bigram context must reduce average surprisal vs the unigram LM
    corpus-wide (conditioning can't hurt an MLE on its own corpus),
    and all perplexities are >= 1."""
    from recommender_systems_spark.queries.textops import (
        t_bigram_surprisal,
        t_surprisal,
    )

    bg = {r["doc_id"]: r for r in t_bigram_surprisal(spark, SF_MED).collect()}
    un = {r["doc_id"]: r for r in t_surprisal(spark, SF_MED).collect()}
    assert set(bg) == set(un)
    assert all(r["ppl"] >= 1.0 for r in bg.values())
    mean_bg = sum(r["avg_bits"] for r in bg.values()) / len(bg)
    mean_un = sum(r["avg_bits"] for r in un.values()) / len(un)
    assert mean_bg < mean_un


def test_changepoint_within_series(spark):
    """One changepoint per type, located inside the observed series,
    with a positive peak statistic."""
    from recommender_systems_spark.queries.sessions import s_changepoint

    rows = s_changepoint(spark, SF_MED).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_hours"] > 0
        assert r["max_abs_s"] > 0
        assert r["cp_hour"] is not None


def test_pit_join_no_leakage(spark):
    """Point-in-time discipline: every attached feature was written at
    or before the label timestamp, and each label matches at most one
    interval."""
    from recommender_systems_spark.queries.sessions import j_pit_features

    rows = j_pit_features(spark, SF_MED).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["feat_from"] <= r["label_ts"]
        assert r["event_id"] not in seen  # intervals partition time
        seen.add(r["event_id"])


def test_powerlaw_fit_shape(spark):
    """Histogram masses sum to the item count; alpha is a single
    shared positive value > 1."""
    from recommender_systems_spark.io import load_table
    from recommender_systems_spark.queries.stats import e_powerlaw_fit

    rows = e_powerlaw_fit(spark, SF_MED).collect()
    n_items = (
        load_table(spark, SF_MED, "lineitem")
        .select("l_partkey").distinct().count()
    )
    assert sum(r["n_items"] for r in rows) == n_items
    alphas = {r["alpha_mle"] for r in rows}
    assert len(alphas) == 1
    assert alphas.pop() > 1.0


def test_watermark_sizing_bounded_by_block(spark):
    """Simulated arrival shuffles within 5-minute blocks, so lateness
    is bounded by one block; percentiles are monotone and some but not
    all events are late."""
    from recommender_systems_spark.queries.sessions import s_watermark_sizing

    r = s_watermark_sizing(spark, SF_MED).collect()[0]
    assert 0 < r["n_late"] < r["n_events"]
    assert r["p50_late_s"] <= r["p95_late_s"] <= r["p99_late_s"] <= r["max_late_s"]
    assert r["max_late_s"] < 300.0


def test_power_mde_scaling(spark):
    """Required n grows as 1/effect²; the MDE at current n is the
    effect a test of that size can just detect."""
    from recommender_systems_spark.queries.abtest import e_power_mde

    rows = {r["rel"]: r for r in e_power_mde(spark, SF_MED).collect()}
    assert len(rows) == 3
    n1, n2, n5 = (rows[e]["n_required_per_arm"] for e in (0.01, 0.02, 0.05))
    assert n1 > n2 > n5
    assert abs(n1 / n2 - 4.0) < 0.02  # 1/eff² scaling
    for r in rows.values():
        assert r["mde_abs"] > 0 and r["mde_rel"] > 0


def test_moments_match_builtin_direction(spark):
    """Explicit power-sum moments agree with Spark's builtins to the
    rounding tolerance (the builtins only stay OUT of the query for
    cross-engine determinism, not correctness)."""
    from pyspark.sql import functions as F  # noqa: F811

    from recommender_systems_spark.io import load_table
    from recommender_systems_spark.queries.stats import a_moments

    ours = {r["event_type"]: r for r in a_moments(spark, SF_MED).collect()}
    ref = {
        r["event_type"]: r
        for r in load_table(spark, SF_MED, "events")
        .groupBy("event_type")
        .agg(
            F.skewness("value").alias("sk"),
            F.kurtosis("value").alias("ku"),
        )
        .collect()
    }
    for t, r in ours.items():
        assert abs(r["skewness"] - ref[t]["sk"]) < 1e-3, t
        assert abs(r["excess_kurtosis"] - ref[t]["ku"]) < 1e-3, t


def test_quantile_normalize_is_normalish(spark):
    """The transformed column must be ~N(0,1): mean ≈ 0, sd ≈ 1,
    symmetric extremes, monotone in the input value."""
    from recommender_systems_spark.queries.stats import w_quantile_normalize

    rows = w_quantile_normalize(spark, SF_MED).collect()
    zs = [r["z_score"] for r in rows]
    n = len(zs)
    mean = sum(zs) / n
    sd = (sum((z - mean) ** 2 for z in zs) / (n - 1)) ** 0.5
    assert abs(mean) < 0.01
    assert abs(sd - 1.0) < 0.02
    pairs = sorted((r["value"], r["z_score"]) for r in rows)
    assert all(a[1] <= b[1] for a, b in zip(pairs, pairs[1:]))


def test_triangles_invariants(spark):
    """Triangle count is bounded by wedges/3; the coefficient lies in
    [0,1]; a hand-built 4-cycle+chord graph gives exactly 2 triangles
    via the same orientation rule."""
    from recommender_systems_spark.queries.graph import g_triangles

    row = g_triangles(spark, SF_MED).collect()[0]
    assert row["n_triangles"] >= 0
    assert 0.0 <= row["clustering_coeff"] <= 1.0
    # K4 minus one edge: nodes 1-2-3-4, edges 12,23,34,41,13 → 2 triangles.
    import duckdb

    con = duckdb.connect()
    tri = con.execute(
        """
        WITH und AS (SELECT * FROM (VALUES (1,2),(2,3),(3,4),(1,4),(1,3))
                     AS t(a, b)),
        degu AS (SELECT id, COUNT(*) AS d FROM (
                     SELECT a AS id FROM und UNION ALL SELECT b FROM und)
                 GROUP BY 1),
        orient AS (
            SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND und.a < und.b)
                        THEN und.a ELSE und.b END AS u,
                   CASE WHEN (da.d < db.d) OR (da.d = db.d AND und.a < und.b)
                        THEN und.b ELSE und.a END AS v
            FROM und JOIN degu da ON da.id = und.a
                     JOIN degu db ON db.id = und.b),
        wedge AS (SELECT e1.v AS x, e2.v AS y FROM orient e1
                  JOIN orient e2 ON e1.u = e2.u AND e1.v < e2.v)
        SELECT COUNT(*) FROM wedge w JOIN und
            ON und.a = least(w.x, w.y) AND und.b = greatest(w.x, w.y)
        """
    ).fetchone()[0]
    assert tri == 2


def test_vocab_divergence_nonnegative(spark):
    """KL ≥ 0 up to quantization noise, and token totals tie out to the
    corpus token count."""
    from recommender_systems_spark.io import load_table
    from recommender_systems_spark.functions.text import token_count
    from recommender_systems_spark.queries.textops import t_vocab_divergence

    rows = t_vocab_divergence(spark, SF_MED).collect()
    assert all(r["kl_bits"] >= -1e-4 for r in rows)  # int-millionth rounding
    total = (
        load_table(spark, SF_MED, "documents")
        .select(F.sum(token_count(F.col("text"))).alias("n"))
        .collect()[0]["n"]
    )
    assert sum(r["n_tok"] for r in rows) == total


def test_shard_manifest_ties_out(spark):
    """Shards partition the corpus exactly: doc/byte/id totals equal the
    whole-table aggregates, and every shard id is in [0, 16)."""
    from recommender_systems_spark.io import load_table
    from recommender_systems_spark.queries.splits import t_shard_manifest

    rows = t_shard_manifest(spark, SF_MED).collect()
    docs = load_table(spark, SF_MED, "documents")
    agg = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).alias("nb"),
        F.sum("doc_id").alias("ids"),
    ).collect()[0]
    assert sum(r["n_docs"] for r in rows) == agg["n"]
    assert sum(r["n_bytes"] for r in rows) == agg["nb"]
    assert sum(r["id_sum"] for r in rows) == agg["ids"]
    assert all(0 <= r["shard"] < 16 for r in rows)


def test_corr_matrix_bounds_and_diag(spark):
    """All correlations in [-1, 1]; self-correlation (not emitted) is 1
    by the same accumulator — checked via F.corr directly."""
    from recommender_systems_spark.io import load_table
    from recommender_systems_spark.queries.stats import a_corr_matrix

    rows = a_corr_matrix(spark, SF_MED).collect()
    assert len(rows) == 6
    assert all(-1.0 <= r["pearson_r"] <= 1.0 for r in rows)
    self_r = (
        load_table(spark, SF_MED, "lineitem")
        .agg(F.corr("l_quantity", "l_quantity").alias("r"))
        .collect()[0]["r"]
    )
    assert abs(self_r - 1.0) < 1e-9


def test_transition_matrix_rows_normalize(spark):
    """Outgoing probabilities sum to 1 per source state (up to 6dp
    rounding × fan-out)."""
    from recommender_systems_spark.queries.sessions import s_transition_matrix

    rows = s_transition_matrix(spark, SF_MED).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["src"], 0.0)
        by_src[r["src"]] += r["p"]
    assert by_src and all(abs(v - 1.0) < 1e-4 for v in by_src.values())


def test_quality_classifier_monotone_in_stopwords(spark):
    """prob is a monotone function of the logit, and the keep verdict
    equals prob >= threshold everywhere."""
    from recommender_systems_spark.queries.textops import (
        _QC_THRESHOLD,
        t_quality_classifier,
    )

    rows = t_quality_classifier(spark, SF_MED).collect()
    for r in rows:
        assert r["keep"] == (r["prob"] >= _QC_THRESHOLD)
    ordered = sorted(rows, key=lambda r: r["logit"])
    probs = [r["prob"] for r in ordered]
    assert probs == sorted(probs)


def test_truncation_recall_bounds(spark):
    """Recall in [0,1]; full-dim self-ranking recall is 1 by identity
    (truncating to the FULL width must reproduce the exact ranking)."""
    from recommender_systems_spark.queries.similarity import (
        TOP_K,
        v_truncation_recall,
    )

    rows = v_truncation_recall(spark, SF_MED).collect()
    assert rows
    for r in rows:
        assert 0 <= r["trunc_hits"] <= TOP_K
        assert abs(r[f"recall_at_{TOP_K}"] - r["trunc_hits"] / TOP_K) < 1e-12


def test_bandit_replay_sanity(spark):
    """Both policies replay the same eval stream; the greedy policy's
    match rate is at least the random policy's on this log (greedy
    exploits the majority arm)."""
    from recommender_systems_spark.queries.ml import e_bandit_replay

    rows = {r["policy"]: r for r in e_bandit_replay(spark, SF_MED).collect()}
    assert rows["greedy"]["n_eval"] == rows["random"]["n_eval"] > 0
    assert 0.0 <= rows["random"]["match_rate"] <= 1.0
    assert 0.0 <= rows["greedy"]["match_rate"] <= 1.0


def test_global_running_totals_two_columns(spark):
    """Multi-column two-phase cumsum: each output column equals its own
    single-column run over the same ordering (distinct order keys make
    per-row totals well-defined)."""
    from recommender_systems_spark.operators.relational import (
        global_running_total,
        global_running_totals,
    )

    rows = [(i, i % 5, (i * 7) % 11) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, a long, b long")
    got = {
        r["k"]: (r["ca"], r["cb"])
        for r in global_running_totals(
            df, "k", [("a", "ca"), ("b", "cb")]
        ).collect()
    }
    for col, idx in (("a", 0), ("b", 1)):
        want = {
            r["k"]: r["rt"]
            for r in global_running_total(df, "k", col, out_col="rt").collect()
        }
        assert {k: v[idx] for k, v in got.items()} == want


def test_ks_and_chi2_bounds(spark):
    """KS D ∈ [0,1] with both arm sizes positive; chi2 ≥ 0 with the
    correct contingency dof for 2 arms × 5 event types."""
    from recommender_systems_spark.queries.analytics import e_chi2_test, e_ks_test

    ks = e_ks_test(spark, SF_MED).collect()
    assert len(ks) == 1
    assert 0.0 <= ks[0]["ks_d"] <= 1.0
    assert ks[0]["na"] > 0 and ks[0]["nb"] > 0

    chi = e_chi2_test(spark, SF_MED).collect()
    assert len(chi) == 1
    assert chi[0]["chi2"] >= 0.0
    assert chi[0]["dof"] == (2 - 1) * (5 - 1)
    assert chi[0]["n"] == ks[0]["na"] + ks[0]["nb"]


def test_confusion_matrix_cells_partition_corpus(spark):
    """The four confusion cells partition the document corpus, and the
    reported precision/recall re-derive from the cells."""
    from recommender_systems_spark.queries.analytics import e_confusion_matrix
    from recommender_systems_spark.registry import _t

    r = e_confusion_matrix(spark, SF_MED).collect()[0]
    n_docs = _t(spark, SF_MED, "documents").count()
    assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == n_docs
    assert abs(r["precision_en"] - round(r["tp"] / (r["tp"] + r["fp"]), 6)) < 1e-12
    assert abs(r["recall_en"] - round(r["tp"] / (r["tp"] + r["fn"]), 6)) < 1e-12


def test_grouping_sets_marginals_consistent(spark):
    """Each marginal sums to the same grand total, and the set labels
    partition the output."""
    from recommender_systems_spark.queries.analytics import a_grouping_sets

    rows = a_grouping_sets(spark, SF_MED).collect()
    by_set: dict[str, list] = {}
    for r in rows:
        by_set.setdefault(r["set_name"], []).append(r)
    assert set(by_set) == {"by_type", "by_day", "all"}
    assert len(by_set["all"]) == 1
    total = by_set["all"][0]["n"]
    assert sum(r["n"] for r in by_set["by_type"]) == total
    assert sum(r["n"] for r in by_set["by_day"]) == total


def test_mode_is_deterministic_majority(spark):
    """The reported mode count is the max per-user count, and repeated
    runs agree (total tie-break)."""
    from recommender_systems_spark.queries.analytics import a_mode
    from recommender_systems_spark.registry import _t

    got = {r["user_id"]: (r["mode_event_type"], r["n"]) for r in
           a_mode(spark, SF_MED).collect()}
    ev = _t(spark, SF_MED, "events").filter(F.col("user_id") < 100)
    maxn = {
        r["user_id"]: r["m"]
        for r in ev.groupBy("user_id", "event_type")
        .count()
        .groupBy("user_id")
        .agg(F.max("count").alias("m"))
        .collect()
    }
    assert {u: n for u, (_, n) in got.items()} == maxn
    again = {r["user_id"]: (r["mode_event_type"], r["n"]) for r in
             a_mode(spark, SF_MED).collect()}
    assert got == again


def test_label_propagation_partitions_nodes(spark):
    """Community sizes sum to the node count of the co-occurrence
    graph, and at least one community merged (total communities <
    nodes — LPA with 2 rounds on a connected-ish graph must merge
    neighbours)."""
    from recommender_systems_spark.queries.graph import (
        _cooc_pairs,
        g_label_propagation,
    )

    rows = g_label_propagation(spark, SF_MED).collect()
    cooc = _cooc_pairs(spark, SF_MED)
    n_nodes = (
        cooc.select(F.col("ia").alias("id"))
        .unionAll(cooc.select(F.col("ib").alias("id")))
        .distinct()
        .count()
    )
    assert sum(r["n_members"] for r in rows) == n_nodes
    assert len(rows) < n_nodes


def test_qte_deciles_shape(spark):
    """Ten deciles, arm sizes per decile sum to the arm totals, and
    each decile's qte re-derives from its reported means."""
    from recommender_systems_spark.queries.analytics import e_ks_test, e_qte_deciles

    rows = sorted(e_qte_deciles(spark, SF_MED).collect(), key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, 11))
    ks = e_ks_test(spark, SF_MED).collect()[0]
    assert sum(r["na"] for r in rows) == ks["na"]
    assert sum(r["nb"] for r in rows) == ks["nb"]
    for r in rows:
        # qte rounds the UNROUNDED mean difference; recomputing from the
        # rounded means can differ by up to one ulp of the 6dp grid.
        assert abs(r["qte"] - round(r["mean_a"] - r["mean_b"], 6)) <= 2e-6


def test_pq_codes_contract(spark):
    """Every vector gets an m-part code with codeword ids in range and
    a non-negative reconstruction error; codebook members reconstruct
    themselves exactly (err == 0)."""
    from recommender_systems_spark.queries.similarity import (
        PQ_K,
        PQ_M,
        v_pq_codes,
    )

    rows = v_pq_codes(spark, SF_MED).collect()
    assert len(rows) == 500
    zero_err = 0
    for r in rows:
        parts = r["pq_code"].split(",")
        assert len(parts) == PQ_M
        assert all(1 <= int(p) <= PQ_K for p in parts)
        assert r["recon_err"] >= 0.0
        if r["recon_err"] == 0.0:
            zero_err += 1
    assert zero_err >= PQ_K  # the codebook vectors themselves


def test_containment_dominates_jaccard(spark):
    """For every candidate pair, max containment ≥ Jaccard (set
    algebra: |∩|/min ≥ |∩|/|∪|), and both directions are in [0,1]."""
    from recommender_systems_spark.queries.neardup import (
        dedup_containment,
        dedup_ngram_jaccard,
    )

    jac = {(r["doc_a"], r["doc_b"]): r["ngram_jaccard"]
           for r in dedup_ngram_jaccard(spark, SF_MED).collect()}
    con = {(r["doc_a"], r["doc_b"]): r
           for r in dedup_containment(spark, SF_MED).collect()}
    assert set(jac) == set(con)
    for pair, r in con.items():
        assert 0.0 <= r["containment_ab"] <= 1.0
        assert 0.0 <= r["containment_ba"] <= 1.0
        assert max(r["containment_ab"], r["containment_ba"]) >= jac[pair] - 1e-9


def test_cuped_reduces_variance_when_correlated(spark):
    """Both arms present; the adjusted mean stays finite and the
    variance-reduction ratio is < 1 (adjustment can't be worse than a
    θ=0 no-op by more than sampling noise of the rounded grid)."""
    from recommender_systems_spark.queries.analytics import e_cuped

    rows = {r["grp"]: r for r in e_cuped(spark, SF_MED).collect()}
    assert set(rows) == {"A", "B"}
    for r in rows.values():
        assert r["n_users"] > 0
        assert r["mean_post"] is not None and r["mean_adjusted"] is not None
        assert r["var_reduction"] <= 1.0


def test_naive_bayes_partitions_and_is_deterministic(spark):
    """Per-language counts partition the test half, accuracies re-derive
    from the cells, and repeated runs agree exactly (integer-scaled
    log-likelihoods leave no accumulation-order wiggle). No accuracy
    floor is asserted: the synthetic corpus draws every language from
    ONE shared vocabulary, so language labels carry no token signal by
    construction — the operator's value is the in-plan train/score
    shape, which the DuckDB oracle verifies end to end."""
    from recommender_systems_spark.queries.textops import t_naive_bayes_lang
    from recommender_systems_spark.registry import _t

    rows = t_naive_bayes_lang(spark, SF_MED).collect()
    test = _t(spark, SF_MED, "documents").filter(F.col("doc_id") % 2 == 1)
    per_lang = {r["lang"]: r["n"] for r in
                test.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert {r["lang_actual"]: r["n_docs"] for r in rows} == per_lang
    for r in rows:
        assert 0 <= r["n_correct"] <= r["n_docs"]
        assert abs(r["accuracy"] - round(r["n_correct"] / r["n_docs"], 6)) < 1e-12
    again = {(r["lang_actual"], r["n_correct"])
             for r in t_naive_bayes_lang(spark, SF_MED).collect()}
    assert again == {(r["lang_actual"], r["n_correct"]) for r in rows}


def test_diff_in_diff_rederives(spark):
    """DiD recomputes from its own reported cell means (to the rounded
    grid), and all four cells are populated."""
    from recommender_systems_spark.queries.analytics import e_diff_in_diff

    r = e_diff_in_diff(spark, SF_MED).collect()[0]
    for c in ("pre_a", "post_a", "pre_b", "post_b"):
        assert r[c] is not None
    assert abs(
        r["did"] - round((r["post_b"] - r["pre_b"]) - (r["post_a"] - r["pre_a"]), 6)
    ) <= 2e-6


def test_json_roundtrip_exact(spark):
    """The JSON round trip must reproduce the source rows exactly,
    including doubles (round-trip serialisation)."""
    from recommender_systems_spark.queries.io_roundtrip import s_json_roundtrip
    from recommender_systems_spark.registry import _t

    got = {r["event_id"]: (r["user_id"], r["event_type"], r["value"])
           for r in s_json_roundtrip(spark, SF_MED).collect()}
    want = {r["event_id"]: (r["user_id"], r["event_type"], r["value"])
            for r in _t(spark, SF_MED, "events")
            .filter(F.col("user_id") < 50)
            .select("event_id", "user_id", "event_type", "value")
            .collect()}
    assert got == want


def test_srm_guard_counts_units(spark):
    """Arm unit counts must equal distinct users per parity class, and
    the flag must re-derive from the statistic."""
    from recommender_systems_spark.queries.analytics import e_srm_guard
    from recommender_systems_spark.registry import _t

    r = e_srm_guard(spark, SF_MED).collect()[0]
    ev = _t(spark, SF_MED, "events")
    na = ev.filter(F.col("user_id") % 2 == 0).select("user_id").distinct().count()
    nb = ev.filter(F.col("user_id") % 2 == 1).select("user_id").distinct().count()
    assert (r["na"], r["nb"]) == (na, nb)
    e = (na + nb) / 2.0
    chi2 = (na - e) ** 2 / e + (nb - e) ** 2 / e
    assert abs(r["chi2_srm"] - round(chi2, 6)) < 1e-9
    assert r["srm_detected"] == (chi2 > 3.841458820694124)


def test_km_curve_is_valid_survival_function(spark):
    """S(t) must start below 1, be non-increasing, stay in [0,1]; the
    risk set must be non-increasing; and the first risk set equals the
    total user count minus earlier censor-only leavers."""
    from recommender_systems_spark.queries.analytics import m_survival_km
    from recommender_systems_spark.registry import _t

    rows = sorted(m_survival_km(spark, SF_MED).collect(),
                  key=lambda r: r["dur_us"])
    assert rows
    n_users = _t(spark, SF_MED, "events").select("user_id").distinct().count()
    s_prev, n_prev = 1.0, None
    for r in rows:
        assert 0.0 <= r["s_km"] <= 1.0
        assert r["s_km"] <= s_prev + 1e-9
        assert 1 <= r["d"] <= r["n_risk"] <= n_users
        if n_prev is not None:
            assert r["n_risk"] <= n_prev
        s_prev, n_prev = r["s_km"], r["n_risk"]


def test_permutation_test_pvalue_bounds(spark):
    """p ∈ (0, 1], extreme count ≤ K, and p re-derives from the
    extreme count."""
    from recommender_systems_spark.queries.analytics import PERM_K, e_permutation_test

    r = e_permutation_test(spark, SF_MED).collect()[0]
    assert r["n_perms"] == PERM_K
    assert 0 <= r["n_extreme"] <= PERM_K
    assert 0.0 < r["p_value"] <= 1.0
    assert abs(r["p_value"] - round((1 + r["n_extreme"]) / (1 + PERM_K), 6)) < 1e-12


def test_logreg_train_descends(spark):
    """Trained weights must beat the w=0 model's log-loss (ln 2), and
    the reported metrics must be finite with accuracy in [0,1]."""
    import math

    from recommender_systems_spark.queries.analytics import m_logreg_train

    r = m_logreg_train(spark, SF_MED).collect()[0]
    assert 0.0 <= r["accuracy"] <= 1.0
    assert r["log_loss"] < math.log(2.0)  # GD made progress from w=0
    assert any(abs(r[f"w_{j}"]) > 0 for j in range(4))


def test_rec_novelty_bounds(spark):
    """Novelty must sit between the catalog's min and max per-item
    self-information, and the rec count equals users × k (every user
    has ≥ k history items at sf0.01)."""
    import math

    from recommender_systems_spark.queries.ml import _COV_K, _ratings, e_rec_novelty

    r = e_rec_novelty(spark, SF_MED).collect()[0]
    hist = _ratings(spark, SF_MED).groupBy("uid", "iid").count()
    pop = hist.groupBy("iid").count().collect()
    t = sum(p["count"] for p in pop)
    lo = min(math.log2(t / p["count"]) for p in pop)
    hi = max(math.log2(t / p["count"]) for p in pop)
    assert lo - 1e-6 <= r["avg_novelty_bits"] <= hi + 1e-6
    assert r["n_recs"] <= r["n_users"] * _COV_K


def test_null_safe_join_keeps_null_bucket(spark):
    """Every nulled-key row must survive the null-safe join (a plain
    equi-join would drop them), matched to the null aggregate row."""
    from recommender_systems_spark.queries.stats import j_null_safe_join
    from recommender_systems_spark.registry import _t

    rows = j_null_safe_join(spark, SF_MED).collect()
    ev = _t(spark, SF_MED, "events").filter(F.col("user_id") < 30)
    n_err = ev.filter(F.col("event_type") == "error").count()
    n_total_err = (
        _t(spark, SF_MED, "events").filter(F.col("event_type") == "error").count()
    )
    null_rows = [r for r in rows if r["k"] is None]
    assert len(null_rows) == n_err
    assert all(r["n_type"] == n_total_err for r in null_rows)
    assert len(rows) == ev.count()  # nothing dropped


def test_first_last_window_consistency(spark):
    """first/last must agree with a direct min/max-by over the total
    (ts, event_id) order."""
    from recommender_systems_spark.queries.stats import w_first_last
    from recommender_systems_spark.registry import _t

    got = {r["user_id"]: (r["first_type"], r["last_type"])
           for r in w_first_last(spark, SF_MED).collect()}
    ev = _t(spark, SF_MED, "events").select("user_id", "ts", "event_id",
                                            "event_type")
    want = {
        r["user_id"]: (r["f"], r["l"])
        for r in ev.groupBy("user_id").agg(
            F.min_by("event_type", F.struct("ts", "event_id")).alias("f"),
            F.max_by("event_type", F.struct("ts", "event_id")).alias("l"),
        ).collect()
    }
    assert got == want


def test_hte_segments_match_global(spark):
    """Segment arm counts must sum to the joined-event totals, and
    each effect must re-derive to its t statistic's sign."""
    from recommender_systems_spark.queries.analytics import e_hte_segments
    from recommender_systems_spark.registry import _t

    rows = e_hte_segments(spark, SF_MED).collect()
    assert len(rows) == 5  # five market segments
    ev = _t(spark, SF_MED, "events")
    cust = _t(spark, SF_MED, "customer").select(
        F.col("c_custkey").alias("user_id")
    )
    joined = ev.join(cust, "user_id")
    n_a = joined.filter(F.col("user_id") % 2 == 0).count()
    n_b = joined.filter(F.col("user_id") % 2 == 1).count()
    assert sum(r["na"] for r in rows) == n_a
    assert sum(r["nb"] for r in rows) == n_b
    for r in rows:
        if r["effect"] != 0:
            assert (r["effect"] > 0) == (r["t_stat"] > 0)


def test_orc_roundtrip_exact(spark):
    """ORC sink+source must reproduce the filtered projection exactly."""
    from recommender_systems_spark.queries.io_roundtrip import s_orc_roundtrip
    from recommender_systems_spark.registry import _t

    got = {r["doc_id"]: (r["lang"], r["source"], r["n_chars"])
           for r in s_orc_roundtrip(spark, SF_MED).collect()}
    want = {r["doc_id"]: (r["lang"], r["source"], r["n_chars"])
            for r in _t(spark, SF_MED, "documents")
            .filter(F.col("n_chars") >= 200)
            .select("doc_id", "lang", "source", "n_chars")
            .collect()}
    assert got == want


def test_event_pattern_counts_are_adjacent_runs(spark):
    """Every reported match must correspond to an adjacent
    view→click→purchase triple in the user's ordered stream."""
    from recommender_systems_spark.queries.sessions import s_event_pattern
    from recommender_systems_spark.registry import _t

    got = {r["user_id"]: r["n_matches"]
           for r in s_event_pattern(spark, SF_MED).collect()}
    rows = (
        _t(spark, SF_MED, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    want = {}
    for uid, evs in by_user.items():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        n = sum(
            1
            for i in range(len(evs) - 2)
            if (evs[i]["event_type"], evs[i + 1]["event_type"],
                evs[i + 2]["event_type"]) == ("view", "click", "purchase")
            and (evs[i + 2]["ts"] - evs[i]["ts"]).total_seconds() <= 604800
        )
        if n:
            want[uid] = n
    assert got == want


def test_mad_bounded_by_range(spark):
    """MAD must be non-negative and no larger than half the value
    range within each event type."""
    from recommender_systems_spark.queries.analytics import a_mad
    from recommender_systems_spark.registry import _t

    rows = {r["event_type"]: r for r in a_mad(spark, SF_MED).collect()}
    rng = {
        r["event_type"]: (r["mn"], r["mx"])
        for r in _t(spark, SF_MED, "events")
        .groupBy("event_type")
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
        .collect()
    }
    for t, r in rows.items():
        mn, mx = rng[t]
        assert 0.0 <= r["mad"] <= (mx - mn)
        assert mn <= r["median_value"] <= mx


def test_centroid_classify_beats_uniform(spark):
    """Per-label counts partition the embedding table; overall accuracy
    must beat the 1/|labels| uniform-guess rate (labels are real
    cluster structure in the synthetic embeddings)."""
    from recommender_systems_spark.queries.similarity import v_centroid_classify
    from recommender_systems_spark.registry import _t

    rows = v_centroid_classify(spark, SF_MED).collect()
    per = {r["label"]: r["n_vectors"] for r in rows}
    emb = _t(spark, SF_MED, "embeddings")
    want = {r["label"]: r["n"] for r in
            emb.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per == want
    total = sum(per.values())
    acc = sum(r["n_correct"] for r in rows) / total
    assert acc > 1.0 / len(per)


def test_benford_terms_partition_and_sum(spark):
    """Nine digits, observed shares sum to 1 (to the rounded grid),
    chi2 terms non-negative, expectations are the Benford law."""
    from recommender_systems_spark.queries.analytics import _BENFORD_P, a_benford_test

    rows = {r["d"]: r for r in a_benford_test(spark, SF_MED).collect()}
    assert set(rows) == set(range(1, 10))
    assert abs(sum(r["observed_p"] for r in rows.values()) - 1.0) < 1e-4
    for d, r in rows.items():
        assert r["benford_p"] == _BENFORD_P[d]
        assert r["chi2_term"] >= 0.0


def test_runs_test_bounds(spark):
    """Run counts must lie in [1, n] and the above/below counts split
    each type's rows; |z| finite."""
    import math

    from recommender_systems_spark.queries.analytics import a_runs_test
    from recommender_systems_spark.registry import _t

    rows = a_runs_test(spark, SF_MED).collect()
    totals = {
        r["event_type"]: r["n"]
        for r in _t(spark, SF_MED, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        n = totals[r["event_type"]]
        assert r["n_above"] + r["n_below"] == n
        assert 1 <= r["n_runs"] <= n
        assert math.isfinite(r["z"])


def test_autocorr_in_range(spark):
    """Correlations live in [-1, 1] and pair counts are n_type - 1."""
    from recommender_systems_spark.queries.analytics import a_autocorr
    from recommender_systems_spark.registry import _t

    rows = {r["event_type"]: r for r in a_autocorr(spark, SF_MED).collect()}
    totals = {
        r["event_type"]: r["n"]
        for r in _t(spark, SF_MED, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for t, r in rows.items():
        assert r["n_pairs"] == totals[t] - 1
        assert -1.0 <= r["lag1_autocorr"] <= 1.0


def test_weighted_median_is_data_value(spark):
    """The weighted median must be an actual data value at the
    half-weight crossing, bracketed by the group's min/max."""
    from recommender_systems_spark.queries.analytics import a_weighted_median
    from recommender_systems_spark.registry import _t

    rows = {r["event_type"]: r for r in a_weighted_median(spark, SF_MED).collect()}
    ev = _t(spark, SF_MED, "events")
    stats = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for t, r in rows.items():
        s = stats[t]
        assert r["total_weight"] == s["n"]
        assert s["mn"] <= r["weighted_median"] <= s["mx"]
        # must be an existing value
        assert ev.filter(
            (F.col("event_type") == t) & (F.col("value") == r["weighted_median"])
        ).count() > 0


def test_cohort_ltv_monotone(spark):
    """Cumulative LTV must be non-decreasing in week_offset within
    each cohort."""
    from recommender_systems_spark.queries.sessions import s_cohort_ltv

    rows = s_cohort_ltv(spark, SF_MED).collect()
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_week"], []).append(r)
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r["week_offset"])
        vals = [r["cum_value"] for r in rs]
        assert vals == sorted(vals), cohort
        for r in rs:
            assert abs(r["ltv_per_user"] * r["cohort_size"] - r["cum_value"]) \
                <= r["cohort_size"] * 1e-3


def test_rank_functions_consistency(spark):
    """cume_dist must be ≥ percent_rank, both in (0, 1], and
    dense_rank ≤ rank everywhere."""
    from recommender_systems_spark.queries.stats import w_rank_functions

    rows = w_rank_functions(spark, SF_MED).collect()
    assert rows
    for r in rows:
        assert r["drnk"] <= r["rnk"]
        assert 0.0 <= r["prnk"] <= 1.0
        assert 0.0 < r["cdist"] <= 1.0
        assert r["cdist"] >= r["prnk"] - 1e-9


def test_sequential_test_monotone_samples(spark):
    """Running sample sizes must be non-decreasing over days and the
    rejection flag must re-derive from the boundary."""
    import math

    from recommender_systems_spark.queries.analytics import (
        _MSPRT_ALPHA,
        e_sequential_test,
    )

    rows = sorted(e_sequential_test(spark, SF_MED).collect(),
                  key=lambda r: r["day"])
    assert rows
    prev_na = prev_nb = 0
    for r in rows:
        assert r["na"] >= prev_na and r["nb"] >= prev_nb
        prev_na, prev_nb = r["na"], r["nb"]
        assert r["rejected"] == (r["log_lambda"] > math.log(1 / _MSPRT_ALPHA))


def test_dpp_join_plans_dynamic_pruning(spark):
    """The fact scan must carry a dynamicpruning subquery (runtime
    partition pruning), and results must equal the logical semi-join."""
    from recommender_systems_spark.queries.io_roundtrip import j_dpp_join
    from recommender_systems_spark.registry import _t

    df = j_dpp_join(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    docs = _t(spark, SF_MED, "documents")
    keep = {r["source"] for r in
            docs.filter(F.col("n_chars") > 540).select("source").distinct().collect()}
    got = {(r["source"], r["doc_id"]) for r in df.collect()}
    want = {(r["source"], r["doc_id"]) for r in
            docs.filter(F.col("source").isin(list(keep))).collect()}
    assert got == want


def test_threshold_sweep_totals_match_pair_count(spark):
    """Bin counts must sum to the LSH candidate pair count, and bins
    must lie in [-1, 1]."""
    from recommender_systems_spark.queries.neardup import dedup_threshold_sweep
    from recommender_systems_spark.similarity.ann import bucket_keys

    rows = dedup_threshold_sweep(spark, SF_MED).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r["threshold_bin"] <= 1.0
        assert r["n_pairs"] > 0
    from recommender_systems_spark.registry import _t

    e = (
        _t(spark, SF_MED, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .select("vec_id", bucket_keys("v").alias("keys"))
    )
    eb = e.select("vec_id", F.explode("keys").alias("key"))
    n_pairs = (
        eb.alias("a")
        .join(
            eb.alias("b"),
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select("a.vec_id", "b.vec_id")
        .distinct()
        .count()
    )
    assert sum(r["n_pairs"] for r in rows) == n_pairs


def test_dataset_card_rederives(spark):
    """Card metrics must re-derive from direct aggregates."""
    from recommender_systems_spark.queries.textops import t_dataset_card
    from recommender_systems_spark.registry import _t

    card = {r["metric"]: r["value"] for r in t_dataset_card(spark, SF_MED).collect()}
    docs = _t(spark, SF_MED, "documents")
    n = docs.count()
    assert card["n_docs"] == float(n)
    assert card["n_langs"] == 5.0
    assert 0.0 <= card["pct_en"] <= 1.0
    assert 0.0 <= card["exact_dup_rate"] < 1.0
    assert abs(card["avg_tokens_per_doc"]
               - round(card["total_tokens"] / card["n_docs"], 6)) <= 2e-6


def test_compact_files_reduces_file_count(spark):
    """Compaction must collapse the 64-shard layout to 4 parquet parts
    while preserving every row (row preservation is the oracle's job;
    the file counts are asserted here)."""
    import glob

    from recommender_systems_spark.queries.io_roundtrip import (
        _out_dir,
        s_compact_files,
    )

    df = s_compact_files(spark, SF_MED)
    n_rows = df.count()
    frag = len(glob.glob(_out_dir("frag", SF_MED) + "/part-*.parquet"))
    comp = len(glob.glob(_out_dir("compact", SF_MED) + "/part-*.parquet"))
    assert frag == 64
    assert comp == 4
    assert n_rows > 0


def test_trailing_distinct_brackets_hourly(spark):
    """The 24h distinct count must be ≥ the single-hour distinct count
    at every hour and ≤ the total user count."""
    from recommender_systems_spark.queries.stats import w_trailing_distinct
    from recommender_systems_spark.registry import _t

    got = {r["out_hour"]: r["distinct_users_24h"]
           for r in w_trailing_distinct(spark, SF_MED).collect()}
    ev = _t(spark, SF_MED, "events")
    hourly = {
        r["hour"]: r["n"]
        for r in ev.select("user_id", F.date_trunc("hour", "ts").alias("hour"))
        .distinct()
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_users = ev.select("user_id").distinct().count()
    for h, n in hourly.items():
        assert got[h] >= n
        assert got[h] <= n_users


def test_ratio_metric_positive_se(spark):
    """Both arms present with positive ratio and finite positive SE."""
    import math

    from recommender_systems_spark.queries.analytics import e_ratio_metric

    rows = {r["grp"]: r for r in e_ratio_metric(spark, SF_MED).collect()}
    assert set(rows) == {"A", "B"}
    for r in rows.values():
        assert r["n"] > 0
        assert r["ratio"] > 0
        assert r["se_delta"] > 0 and math.isfinite(r["se_delta"])


def test_attrition_is_monotone_and_agrees_with_pipeline(spark):
    """Stage survival must be non-increasing, and the final stage's
    survivor count must equal t_curation_pipeline's total docs."""
    from recommender_systems_spark.queries.textops import (
        t_curation_attrition,
        t_curation_pipeline,
    )

    rows = sorted(t_curation_attrition(spark, SF_MED).collect(),
                  key=lambda r: r["stage_order"])
    assert [r["stage"] for r in rows] == [
        "ingested", "quality_gate", "language_gate", "exact_dedup"]
    counts = [r["n_surviving"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    surv = sum(r["n_docs"] for r in t_curation_pipeline(spark, SF_MED).collect())
    assert counts[-1] == surv


def test_kmeans_broadcast_codebook_parity(spark):
    """Forcing codebook_literal_budget=0 routes both the assignment
    scans and the final metrics through the broadcast codebook-table
    join (_km_assign_join); cluster summaries must equal the
    literal-inline path's (identical dot-product folds, identical
    (s, cid) argmin ordering; the 5dp round absorbs aggregation-order
    ulps in mean_dot)."""
    from recommender_systems_spark.queries.similarity import m_kmeans

    sf = "/root/testdata/sf0.001"
    key = lambda r: r["cluster_id"]  # noqa: E731
    lit_rows = sorted(m_kmeans(spark, sf).collect(), key=key)
    join_rows = sorted(
        m_kmeans(spark, sf, codebook_literal_budget=0).collect(), key=key
    )
    assert len(lit_rows) == len(join_rows) > 0
    for a, b in zip(lit_rows, join_rows):
        assert a.asDict() == b.asDict()


def test_item_knn_recs_never_rerecommends_history(spark):
    """m_item_knn_recs must not recommend an item already in the user's
    (uncapped) history, and each user's scores must be non-increasing
    in rank."""
    from recommender_systems_spark.queries.ml import (
        _cf_frames,
        m_item_knn_recs,
    )

    sf = "/root/testdata/sf0.01"
    hist, _, _ = _cf_frames(spark, sf)
    held = {(r["uid"], r["iid"]) for r in hist.collect()}
    recs = m_item_knn_recs(spark, sf).collect()
    assert recs
    by_user: dict[int, list] = {}
    for r in recs:
        assert (r["user_id"], r["item"]) not in held
        by_user.setdefault(r["user_id"], []).append(r)
    for rows in by_user.values():
        rows.sort(key=lambda r: r["rnk"])
        scores = [r["score_scaled"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_ivf_pq_adc_approximates_true_distance(spark):
    """v_ivf_pq_search's ADC distance must equal the sum of the
    candidate's per-subspace quantization-cell distances to the query —
    spot-check: every returned approx distance is non-negative and
    ranks are dense 1..k per query."""
    from recommender_systems_spark.queries.similarity import (
        TOP_K,
        v_ivf_pq_search,
    )

    rows = v_ivf_pq_search(spark, "/root/testdata/sf0.01").collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        assert r["adc_micros"] >= 0
        by_q.setdefault(r["qid"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1)), q
        assert len(rs) <= TOP_K
        ds = [r["adc_micros"] for r in rs]
        assert ds == sorted(ds), q


def test_merge_upsert_action_consistency(spark):
    """j_merge_upsert: inserted keys live in the shifted range, kept
    keys carry their original balance, no deleted key survives, and the
    merged keyset = (target ∪ batch) − deletes."""
    from recommender_systems_spark.queries.scale import j_merge_upsert
    from recommender_systems_spark.registry import _t
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    rows = j_merge_upsert(spark, sf).collect()
    assert rows
    tgt = {
        r["c_custkey"]: round(r["c_acctbal"], 2)
        for r in _t(spark, sf, "customer").collect()
    }
    src_keys = {
        r["o_custkey"]
        for r in _t(spark, sf, "orders").select("o_custkey").distinct().collect()
    }
    for r in rows:
        if r["action"] == "insert":
            assert r["cust_key"] >= 1000000
        elif r["action"] == "keep":
            assert r["cust_key"] in tgt and r["cust_key"] not in src_keys
            assert r["balance"] == tgt[r["cust_key"]]
        elif r["action"] == "update":
            assert r["cust_key"] in tgt and r["cust_key"] in src_keys
            assert r["cust_key"] % 97 != 0
        else:
            raise AssertionError(r["action"])
    out_keys = {r["cust_key"] for r in rows}
    deleted = {k for k in src_keys if k % 97 == 0}
    assert deleted and deleted.isdisjoint(out_keys)


def test_stratified_ate_weights_sum_to_one(spark):
    """e_stratified_ate: stratum weights sum to 1 (over surviving
    strata) and each weighted effect equals weight × effect within the
    rounding grid."""
    from recommender_systems_spark.queries.analytics import e_stratified_ate

    rows = e_stratified_ate(spark, "/root/testdata/sf0.01").collect()
    assert rows
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert abs(r["weighted_effect"] - r["weight"] * r["effect"]) < 1e-3
        assert r["n_treat"] > 0 and r["n_ctrl"] > 0


def test_seasonality_index_averages_to_one(spark):
    """a_seasonality_index: the event-count-weighted mean of the index
    over all cells is 1 by construction."""
    from recommender_systems_spark.queries.analytics import (
        a_seasonality_index,
    )

    rows = a_seasonality_index(spark, "/root/testdata/sf0.01").collect()
    assert rows
    n = sum(r["n_events"] for r in rows)
    wmean = sum(r["n_events"] * r["seasonality_index"] for r in rows) / n
    assert abs(wmean - 1.0) < 1e-3
    assert {(r["dow"], r["hour"]) for r in rows} <= {
        (d, h) for d in range(7) for h in range(24)
    }


def test_kcore_converged_and_valid(spark):
    """g_kcore's fixed {ROUNDS} rounds must actually CONVERGE at test
    scale (the docstring's claim, which oracle parity cannot check —
    both engines unroll the same rounds): every surviving node keeps
    degree ≥ K within the surviving subgraph, which holds iff one more
    peel round is a no-op."""
    from recommender_systems_spark.queries.graph import KCORE_K, g_kcore

    rows = g_kcore(spark, "/root/testdata/sf0.01").collect()
    assert rows
    assert min(r["degree"] for r in rows) >= KCORE_K


def test_gini_bounds_and_attribution_conservation(spark):
    """e_gini_coefficient lands in [0, 1); a_attribution conserves
    conversions — both models' channel counts sum to the same total
    purchase count."""
    from recommender_systems_spark.queries.analytics import (
        a_attribution,
        e_gini_coefficient,
    )

    g = e_gini_coefficient(spark, "/root/testdata/sf0.01").collect()[0]
    assert 0.0 <= g["gini"] < 1.0

    rows = a_attribution(spark, "/root/testdata/sf0.01").collect()
    by_model = {}
    for r in rows:
        by_model.setdefault(r["model"], 0)
        by_model[r["model"]] += r["conversions"]
    assert by_model["first_touch"] == by_model["last_touch"] > 0


def test_ppr_mass_conservation_and_seed_dominance(spark):
    """g_personalized_pagerank: with no dangling nodes (the symmetrised
    co-occurrence graph has none), total PPR mass stays 1 at every
    fixed round; each seed retains at least the restart mass — the
    invariants oracle parity cannot distinguish from a consistently
    wrong unrolling on both engines."""
    from recommender_systems_spark.queries.graph import (
        PPR_DAMPING,
        PPR_SEEDS,
        g_personalized_pagerank,
    )

    rows = g_personalized_pagerank(spark, SF_MED).collect()
    total = sum(r["ppr"] for r in rows)
    assert abs(total - 1.0) < 1e-3  # 6dp rounding across ~n rows
    restart = (1.0 - PPR_DAMPING) / PPR_SEEDS
    seeds = sorted(r["item"] for r in rows)[:PPR_SEEDS]
    by_item = {r["item"]: r["ppr"] for r in rows}
    # The PPR_SEEDS lowest ids in the node set are the seed set itself.
    for s in seeds:
        assert by_item[s] >= restart - 1e-6


def test_lift_curve_conserves_population_and_orders_gain(spark):
    """e_lift_curve: decile row counts sum to the scored population,
    positives to the positive total, and cumulative gain is
    non-decreasing and ends at 1."""
    from recommender_systems_spark.queries.ml import e_lift_curve

    rows = sorted(
        e_lift_curve(spark, SF_MED).collect(), key=lambda r: r["decile"]
    )
    assert rows, "lift curve is empty"
    assert sum(r["n_rows"] for r in rows) > 0
    gains = [r["cum_gain"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(gains, gains[1:]))
    assert abs(gains[-1] - 1.0) < 1e-6
    # deciles are population cuts: no decile exceeds ~2/10 of the total
    total = sum(r["n_rows"] for r in rows)
    assert max(r["n_rows"] for r in rows) <= 0.35 * total


def test_loo_eval_bounds(spark):
    """m_loo_eval: hit-rate and MRR in [0,1], MRR <= hit-rate (each hit
    contributes at most 1 to the reciprocal-rank sum), users counted
    once."""
    from recommender_systems_spark.queries.ml import m_loo_eval

    r = m_loo_eval(spark, SF_MED).collect()[0]
    assert 0 <= r["hits"] <= r["n_users"]
    assert 0.0 <= r["mrr"] <= r["hit_rate"] <= 1.0


def test_bpe_train_greedy_invariants(spark):
    """t_bpe_train: the merge table must satisfy the greedy-BPE
    invariants — merged = left||right, pair counts non-increasing
    across rounds (a newly-creatable pair's count is bounded by the
    count of the pair just merged), all counts positive, and at least
    one later merge may build on an earlier merged symbol (the loop
    genuinely re-segments — a single-round pair profile can't produce
    multi-char constituents)."""
    from recommender_systems_spark.queries.textops import t_bpe_train

    rows = sorted(
        t_bpe_train(spark, SF_MED).collect(), key=lambda r: r["round"]
    )
    assert [r["round"] for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert r["merged"] == r["left_sym"] + r["right_sym"]
        assert r["pair_count"] > 0
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    merged_syms = {r["merged"] for r in rows}
    assert any(
        r["left_sym"] in merged_syms or r["right_sym"] in merged_syms
        for r in rows
    ), "no merge built on an earlier merge — loop not re-segmenting"


def test_winnowing_guarantee_on_shared_run(spark):
    """Winnowing's core guarantee: two documents sharing a run of
    w + n - 1 consecutive tokens (w windows of n-gram hashes) share at
    least one selected fingerprint. Checked directly on the kernel
    with a constructed pair."""
    from pyspark.sql import functions as F

    from recommender_systems_spark.dedup.minhash import (
        winnow_fingerprints_pandas,
    )
    from recommender_systems_spark.queries.neardup import SPAN_N, WINNOW_W

    shared = " ".join(f"tok{i}" for i in range(WINNOW_W + SPAN_N - 1))
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + shared + " delta epsilon"),
            (2, "zeta eta theta iota " + shared + " kappa"),
        ],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        winnow_fingerprints_pandas(F.col("text"), SPAN_N, WINNOW_W).alias("f"),
    ).collect()
    sets = {r["doc_id"]: set(r["f"]) for r in out}
    assert sets[1] & sets[2], "shared w-run produced no shared fingerprint"


# ---------------------------------------------------------------------------
# round-8: decision stump + random walks
# ---------------------------------------------------------------------------


def test_decision_stump_beats_majority_and_is_global_min(spark):
    """The stump invariant oracle parity can't see: each feature's best
    split must have errors <= the majority-class error count (threshold
    splits can only help), and re-scoring the winning (feature,
    threshold) against the raw table must reproduce its error count."""
    from recommender_systems_spark.queries.ml import m_decision_stump

    rows = {r["feature"]: r for r in m_decision_stump(spark, SF_MED).collect()}
    assert set(rows) == {"price_band", "order_month", "order_day"}
    orders = spark.read.parquet(SF_MED + "/orders.parquet")
    n = orders.count()
    pos = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).count()
    majority_err = min(pos, n - pos)
    for r in rows.values():
        assert r["n"] == n
        assert 0 <= r["errors"] <= majority_err, r
        assert abs(r["acc"] - round(1 - r["errors"] / n, 6)) < 1e-9
    # Re-score the price-band winner directly against the raw rows.
    r = rows["price_band"]
    left = orders.filter(F.floor(F.col("o_totalprice") / 1000) <= r["threshold"])
    lp = left.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).count()
    ln = left.count()
    errs = min(lp, ln - lp) + min(pos - lp, (n - ln) - (pos - lp))
    assert errs == r["errors"]


def test_random_walks_are_edge_consistent_paths(spark):
    """Every walk must be a path in the symmetric co-occurrence graph:
    WALK_N walks, each with steps 0..WALK_LEN exactly once, and every
    consecutive (node, next) pair an actual edge."""
    from recommender_systems_spark.queries.graph import (
        WALK_LEN,
        WALK_N,
        _cooc_pairs,
        g_random_walks,
    )

    out = g_random_walks(spark, SF_MED).collect()
    walks = {}
    for r in out:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    assert len(walks) == WALK_N
    cooc = _cooc_pairs(spark, SF_MED).collect()
    edges = set()
    for r in cooc:
        edges.add((r["ia"], r["ib"]))
        edges.add((r["ib"], r["ia"]))
    for wid, steps in walks.items():
        assert sorted(steps) == list(range(WALK_LEN + 1)), wid
        assert steps[0] == wid  # walk starts at its source
        for s in range(WALK_LEN):
            assert (steps[s], steps[s + 1]) in edges, (wid, s)


# ---------------------------------------------------------------------------
# round-8 batch 2: depth-2 tree, Qini uplift, Holt backtest
# ---------------------------------------------------------------------------


def test_tree_depth2_monotone_improvement(spark):
    """Invariants oracle parity can't see: the root row must equal the
    stump's global best split; children partition the root's rows; and
    because child candidates include the no-split option,
    left.errors + right.errors <= root.errors must hold."""
    from recommender_systems_spark.queries.ml import (
        m_decision_stump,
        m_tree_depth2,
    )

    tree = {r["node"]: r for r in m_tree_depth2(spark, SF_MED).collect()}
    assert set(tree) == {"root", "left", "right"}
    stump = m_decision_stump(spark, SF_MED).collect()
    best = min(stump, key=lambda r: (r["errors"], r["feature"], r["threshold"]))
    root = tree["root"]
    assert (root["feature"], root["threshold"], root["errors"]) == (
        best["feature"], best["threshold"], best["errors"]
    )
    assert tree["left"]["n"] + tree["right"]["n"] == root["n"]
    assert tree["left"]["errors"] + tree["right"]["errors"] <= root["errors"]
    for r in tree.values():
        assert abs(r["acc"] - round(1 - r["errors"] / r["n"], 6)) < 1e-9


def test_qini_uplift_decile_accounting(spark):
    """Deciles 0..9 partition the customer population; the last
    decile's qini must reproduce Pt - Pc * Nt / Nc computed from the
    column totals, and cum_uplift the rate difference."""
    from recommender_systems_spark.queries.ml import e_qini_uplift

    rows = sorted(
        e_qini_uplift(spark, SF_MED).collect(), key=lambda r: r["decile"]
    )
    assert [r["decile"] for r in rows] == list(range(10))
    n_cust = (
        spark.read.parquet(SF_MED + "/customer.parquet").count()
    )
    assert sum(r["n_treated"] + r["n_control"] for r in rows) == n_cust
    nt = sum(r["n_treated"] for r in rows)
    nc = sum(r["n_control"] for r in rows)
    pt = sum(r["pos_treated"] for r in rows)
    pc = sum(r["pos_control"] for r in rows)
    last = rows[-1]
    assert abs(last["qini"] - round(pt - pc * nt / nc, 6)) < 1e-6
    assert abs(last["cum_uplift"] - round(pt / nt - pc / nc, 6)) < 1e-6


def test_holt_forecast_matches_pure_python_recursion(spark):
    """Golden check: re-run the fixed-point Holt recursion in pure
    Python over the monthly series and compare every output column."""
    from recommender_systems_spark.queries.sessions import (
        _HOLT_H,
        s_holt_forecast,
    )

    got = {r["r_name"]: r for r in s_holt_forecast(spark, SF_MED).collect()}

    orders = spark.read.parquet(SF_MED + "/orders.parquet")
    cust = spark.read.parquet(SF_MED + "/customer.parquet")
    nat = spark.read.parquet(SF_MED + "/nation.parquet")
    reg = spark.read.parquet(SF_MED + "/region.parquet")
    monthly = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(nat, cust["c_nationkey"] == nat["n_nationkey"])
        .join(reg, nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy(
            "r_name",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
        .collect()
    )
    series: dict[str, list[tuple[int, int]]] = {}
    for r in monthly:
        series.setdefault(r["r_name"], []).append((r["m"], r["cents"] * 10000))

    def idiv(a: int, b: int) -> int:  # truncation toward zero (SQL div)
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    for name, pts in series.items():
        ys = [yu for _, yu in sorted(pts)]
        t_train = len(ys) - _HOLT_H
        assert t_train >= 2
        lv, tb = ys[0], ys[1] - ys[0]
        for y in ys[1:t_train]:
            lv2 = idiv(y + lv + tb, 2)
            tb = idiv(lv2 - lv, 4) + idiv(3 * tb, 4)
            lv = lv2
        aes, ppms = [], []
        for h in range(1, _HOLT_H + 1):
            actual = ys[t_train + h - 1]
            ae = abs(actual - (lv + h * tb))
            aes.append(ae)
            ppms.append(idiv(idiv(ae, 10000) * 1000000, idiv(actual, 10000)))
        r = got[name]
        assert r["n_train"] == t_train
        assert r["level"] == round(lv / 1e6, 6)
        assert r["trend"] == round(tb / 1e6, 6)
        assert r["mae"] == round(sum(aes) / (_HOLT_H * 1e6), 4)
        assert r["mape"] == round(sum(ppms) / (_HOLT_H * 1e6), 4)


def test_k_anonymity_accounting(spark):
    """Buckets partition the population: rows sum to the customer
    count, shares to 1, and every k=1 class is trivially homogeneous
    (l=1 when k=1)."""
    from recommender_systems_spark.queries.analytics import a_k_anonymity

    rows = {r["k_bucket"]: r for r in a_k_anonymity(spark, SF_MED).collect()}
    n_cust = spark.read.parquet(SF_MED + "/customer.parquet").count()
    assert sum(r["n_rows"] for r in rows.values()) == n_cust
    assert abs(sum(r["row_share"] for r in rows.values()) - 1.0) < 1e-4
    if "1" in rows:
        assert rows["1"]["n_homogeneous"] == rows["1"]["n_classes"]
    for r in rows.values():
        assert 0 <= r["n_homogeneous"] <= r["n_classes"] <= r["n_rows"]


def test_modularity_consistent_with_label_propagation(spark):
    """The modularity row must agree with g_label_propagation's own
    partition (community count, node count) and respect the Newman
    bounds -0.5 <= Q <= 1."""
    from recommender_systems_spark.queries.graph import (
        g_label_propagation,
        g_modularity,
    )

    q = g_modularity(spark, SF_MED).collect()[0]
    comms = g_label_propagation(spark, SF_MED).collect()
    assert q["n_communities"] == len(comms)
    assert q["n_nodes"] == sum(r["n_members"] for r in comms)
    assert 0 <= q["intra_edges"] <= q["n_edges"]
    assert -0.5 <= q["modularity"] <= 1.0


def test_ceil_sqrt_isqrt_agreement():
    """dedup_semantic derives its codebook size as isqrt(n-1)+1 on the
    Spark side and ceil(sqrt(n)) in the DuckDB oracle; pin the identity
    across boundary values (perfect squares and their neighbours) so a
    refactor of either side can't silently diverge the two engines.

    Validity domain (this test DISCOVERED the edge, correcting the
    in-code comment's "any int64 n" claim): the identity holds exactly
    for n <= 2^52 and FIRST fails at n = 2^52 + 1 = (2^26)^2 + 1, where
    IEEE sqrt rounds m^2+1 down to m (1/(2m) drops below half an ulp).
    2^52 ~ 4.5e15 vectors is ~6 orders of magnitude past a 100 TB
    embedding table, so the engines agree everywhere reachable; the
    counterexample is asserted so the bound stays documented."""
    import math

    import duckdb

    con = duckdb.connect()

    def db_ceil_sqrt(n: int) -> int:
        (v,) = con.execute(
            f"SELECT CAST(ceil(sqrt(CAST({n} AS DOUBLE))) AS BIGINT)"
        ).fetchone()
        return v

    ns = [1, 2, 3, 4, 5]
    for base in (10, 100, 1_000, 1_000_000, 2**20, 2**26 - 1):
        ns += [base * base - 1, base * base, base * base + 1]
    ns.append(2**52)  # last n where the identity provably holds
    for n in ns:
        assert n <= 2**52
        py = math.isqrt(n - 1) + 1
        db = db_ceil_sqrt(n)
        assert py == db, f"n={n}: isqrt-form {py} != duckdb ceil-sqrt {db}"

    # First divergence, just past the double-exact domain.
    n_bad = 2**52 + 1
    assert math.isqrt(n_bad - 1) + 1 == 2**26 + 1
    assert db_ceil_sqrt(n_bad) == 2**26


def test_adaptive_lsh_bits_ladder_matches_sql():
    """The Python and DuckDB adaptive-signature ladders must agree at
    every boundary (n = 32·2^b ± 1) — a float-log2 formulation could
    flip widths between engines exactly there. Also pins the floor,
    the cap, and that the first N_PLANES planes of every table are the
    historical 6-plane set (so b=6 buckets never changed)."""
    import duckdb

    from recommender_systems_spark.dedup.constants import hyperplanes
    from recommender_systems_spark.similarity.ann import (
        EMBEDDING_DIM,
        MAX_PLANES,
        N_PLANES,
        N_TABLES,
        PLANE_TABLES,
        TARGET_BUCKET,
        adaptive_bits,
        sql_adaptive_bits,
    )

    con = duckdb.connect()

    def db_bits(n: int) -> int:
        con.execute(f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM range({n})")
        (v,) = con.execute(f"SELECT {sql_adaptive_bits()}").fetchone()
        return v

    ns = [0, 1, TARGET_BUCKET, 10**9]
    for b in range(N_PLANES, MAX_PLANES + 1):
        edge = TARGET_BUCKET << b
        ns += [edge - 1, edge, edge + 1]
    for n in ns:
        assert adaptive_bits(n) == db_bits(n), f"n={n}"
    assert adaptive_bits(0) == N_PLANES
    assert adaptive_bits(10**9) == MAX_PLANES

    for t in range(N_TABLES):
        legacy = hyperplanes(N_PLANES, EMBEDDING_DIM, seed=7 + 101 * t)
        assert PLANE_TABLES[t][:N_PLANES] == legacy


def test_lsh_table_ladder_matches_sql(spark):
    """The table-count ladder (N_TABLES_BY_BITS) must agree between
    engines at every rung: for each signature width b, Spark's
    bucket_keys(v, b) and the oracle's sliced key list produce the
    IDENTICAL key array — same length (T(b)) and same packed values —
    on real embedding vectors. This is the recall knob that rides the
    capacity ladder; a drifting T would silently change candidate
    sets at exactly the corpus sizes no test covers."""
    import duckdb

    from recommender_systems_spark.io import table_rows
    from recommender_systems_spark.similarity.ann import (
        MAX_PLANES,
        N_PLANES,
        N_TABLES_BY_BITS,
        bucket_keys,
        sql_bucket_keys,
        sql_n_tables,
    )
    from tests.conftest import SF_SMALL

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    from recommender_systems_spark import registry

    n_small = table_rows(SF_SMALL, "embeddings")
    for bits in (N_PLANES, 9, MAX_PLANES):
        want_t = N_TABLES_BY_BITS[bits]
        rows = (
            registry._t(spark, SF_SMALL, "embeddings")
            .filter(F.col("vec_id") < 25)
            .select(
                "vec_id",
                bucket_keys("CAST(embedding AS ARRAY<DOUBLE>)", bits).alias("keys"),
            )
            .collect()
        )
        spark_keys = {r.vec_id: list(r.keys) for r in rows}
        assert all(len(k) == want_t for k in spark_keys.values())
        oracle = con.execute(
            "SELECT vec_id, "
            + sql_bucket_keys("CAST(embedding AS DOUBLE[])", str(bits))
            + " FROM embeddings WHERE vec_id < 25"
        ).fetchall()
        assert {vid: list(k) for vid, k in oracle} == spark_keys
        (t_sql,) = con.execute(f"SELECT {sql_n_tables(str(bits))}").fetchone()
        assert t_sql == want_t
    assert n_small <= 32 << N_PLANES  # all test SFs sit on the b=6 rung


def test_ivf_adaptive_k_ladder_matches_sql(spark):
    """Python and DuckDB IVF codebook-count ladders agree at every
    boundary (n = 6400·4^j ± 1), the bottom rung covers all test SFs
    (so sim_ivf_adaptive == sim_ivf_topk there), and the top is
    capped."""
    import duckdb

    from recommender_systems_spark.io import table_rows
    from recommender_systems_spark.queries.similarity import (
        _IVF_CELL_BASE,
        _IVF_MAX_DOUBLINGS,
        N_CENTROIDS,
        ivf_adaptive_k,
        sql_ivf_adaptive_k,
    )
    from tests.conftest import SF_SMALL

    con = duckdb.connect()

    def db_k(n: int) -> int:
        # Substitute the corpus count as a literal: materialising
        # range(n) for the top rungs (n up to ~1.7e12) would make
        # DuckDB actually count a trillion rows.
        expr = sql_ivf_adaptive_k().replace(
            "count(*) AS n FROM embeddings", f"CAST({n} AS BIGINT) AS n"
        )
        (v,) = con.execute(f"SELECT {expr}").fetchone()
        return v

    ns = [0, 1, 10**12]
    for j in range(_IVF_MAX_DOUBLINGS):
        edge = _IVF_CELL_BASE * (4 ** j)
        ns += [edge - 1, edge, edge + 1]
    for n in ns:
        assert ivf_adaptive_k(n) == db_k(n), f"n={n}"
    assert ivf_adaptive_k(0) == N_CENTROIDS
    assert ivf_adaptive_k(10**12) == N_CENTROIDS << _IVF_MAX_DOUBLINGS
    assert table_rows(SF_SMALL, "embeddings") <= _IVF_CELL_BASE


def test_ivf_adaptive_equals_fixed_at_test_sf(spark):
    """At the bottom rung the adaptive variant is value-identical to
    the fixed-K query."""
    from recommender_systems_spark import registry
    from tests.conftest import SF_SMALL

    a = {tuple(r) for r in registry.QUERIES["sim_ivf_adaptive"](spark, SF_SMALL).collect()}
    b = {tuple(r) for r in registry.QUERIES["sim_ivf_topk"](spark, SF_SMALL).collect()}
    assert a == b and len(a) > 0


def test_ivf_adaptive_serve_prunes_and_matches(spark):
    """The adaptive-K serving entry must partition-prune the on-disk
    index read and reproduce sim_ivf_adaptive row for row (shared
    oracle contract)."""
    from recommender_systems_spark.queries.similarity import (
        sim_ivf_adaptive,
        sim_ivf_adaptive_serve,
    )

    df = sim_ivf_adaptive_serve(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan
    served = {(r["qid"], r["rank"]): r["vec_id"] for r in df.collect()}
    computed = {
        (r["qid"], r["rank"]): r["vec_id"]
        for r in sim_ivf_adaptive(spark, SF_MED).collect()
    }
    assert served == computed


def test_ivf_quantiser_breaks_ties_by_lower_cid(spark):
    """A vector whose ROUNDED cosine ties between two centroids goes to
    the lower cid, and a query probes the tied cells lower cid first.
    Centroid 2 is a hair off vector 10's direction (cosine
    0.999999995, 1.0 after rounding) and centroid 9 sits exactly on it:
    the unrounded argmax would pick 9, and so would a higher-cid
    tie-break."""
    from recommender_systems_spark.queries.similarity import (
        _ivf_assign,
        _ivf_probes,
    )

    cents = spark.createDataFrame(
        [(9, [1.0, 0.0]), (5, [-1.0, 0.0]), (2, [1.0, 1e-4]), (7, [0.0, 1.0])],
        "cid long, cv array<double>",
    )
    e = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [-1.0, 1.0]), (12, [0.0, -1.0])],
        "vec_id long, v array<double>",
    )
    cells = {r["vec_id"]: r["cell"] for r in _ivf_assign(e, cents).collect()}
    # 11 ties exactly between 5 and 7 (0.70711), 12 between 9 and 5 (0.0).
    assert cells == {10: 2, 11: 5, 12: 5}

    q = spark.createDataFrame([(0, [1.0, 0.0])], "qid long, qv array<double>")
    probes = sorted(
        (r["prnk"], r["cell"]) for r in _ivf_probes(q, cents, 3).collect()
    )
    assert probes == [(1, 2), (2, 9), (3, 7)]


def test_range_partitions_clamped_to_cores():
    """A footer row estimate far past the data asks for at most
    RANGE_PARTS_PER_CORE partitions per core; small estimates keep one
    partition."""
    from types import SimpleNamespace

    from recommender_systems_spark.operators.relational import (
        RANGE_PARTS_PER_CORE,
        _range_partitions,
    )

    df = SimpleNamespace(
        sparkSession=SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=4)
        )
    )
    assert _range_partitions(df, 10**12, None) == 4 * RANGE_PARTS_PER_CORE
    assert _range_partitions(df, 1_000_000, None) == 1
    assert _range_partitions(df, 0, None) == 1
    assert _range_partitions(df, 10**12, 7) == 7


def test_midrank_total_sums_rejects_double_column(spark):
    """two_phase_midrank's grand totals are exact driver integers, so
    ``total_sums`` must refuse a floating-point column with a TypeError
    (a contract check that holds under ``python -O`` too)."""
    import pytest

    from recommender_systems_spark.operators.relational import two_phase_midrank

    df = spark.createDataFrame(
        [(1, 2, 0.5), (2, 1, 1.5)], "value long, cnt long, w double"
    )
    with pytest.raises(TypeError, match="integral"):
        two_phase_midrank(df, "value", "cnt", total_sums=["w"])


_POLICY_ROWS = 97


def _counted_aggregate(spark):
    """A 97-row aggregate whose final stage runs a Python UDF that
    counts its calls — the number of rows the plan evaluated."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tick(n):
        calls.add(1)
        return n

    df = (
        spark.range(_POLICY_ROWS)
        .groupBy((F.col("id") % _POLICY_ROWS).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("k", tick("n").alias("n"))
    )
    return df, calls


@pytest.mark.parametrize("mode", ["lazy", "below_scale", "past_scale", "now"])
def test_materialize_policy(spark, monkeypatch, mode):
    """io.materialize is lazy unless the data set is past SCALE_ROWS;
    io.materialize_now is always eager. Either way the checkpointed
    rows are evaluated exactly once: a self-join and a later aggregate
    read the stored blocks."""
    from recommender_systems_spark import io

    df, calls = _counted_aggregate(spark)
    if mode == "lazy":
        m = io.materialize(df)
    elif mode == "below_scale":
        m = io.materialize(df, SF_SMALL)
    elif mode == "past_scale":
        monkeypatch.setattr(io, "SCALE_ROWS", 0)
        m = io.materialize(df, SF_SMALL)
    else:
        m = io.materialize_now(df)
    eager = mode in ("past_scale", "now")
    assert calls.value == (_POLICY_ROWS if eager else 0)

    pairs = m.alias("a").join(m.alias("b"), "k").count()
    total = m.agg(F.sum("n")).collect()[0][0]
    assert (pairs, total) == (_POLICY_ROWS, _POLICY_ROWS)
    assert calls.value == _POLICY_ROWS
