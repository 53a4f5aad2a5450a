"""Semantics tests for the extension operators added beyond the
oracle gate: winnowing guarantees, SimHash Hamming behavior, ANN
(LSH/IVF) recall vs the brute-force baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog in the morning sun"),
        (2, "the quick brown fox jumps over the lazy dog in the morning sun"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat in the morning sun"),  # near dup of 1
        (4, "completely different content about spark query engines and scale"),
        (5, "yet another unrelated document concerning distributed columnar io"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_winnow_shared_substring_guarantee(spark, docs):
    # Winnowing guarantee: docs sharing a substring of length >=
    # k+window-1 (= 12) share at least one fingerprint; exact dups get
    # identical fingerprint sets.
    from kp_crypto_market_analytics_spark.operators.dedup import winnow_fingerprints

    fps = winnow_fingerprints(docs, "text", "doc_id", k=5, window=8).toPandas()
    sets = {d: set(g["fp"]) for d, g in fps.groupby("doc_id")}
    assert sets[1] == sets[2]
    assert sets[1] & sets[3], "near-dup must share fingerprints"
    assert len(sets[1] & sets[4]) == 0 or len(sets[1] & sets[4]) < len(sets[1])


def test_simhash_hamming_ordering(spark, docs):
    from kp_crypto_market_analytics_spark.operators.dedup import simhash

    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs, "text", "doc_id").collect()}
    assert sh[1] == sh[2], "identical text -> identical simhash"
    ham_near = bin(sh[1] ^ sh[3]).count("1")
    ham_far = bin(sh[1] ^ sh[4]).count("1")
    assert ham_near < ham_far, "one-word edit must be closer than unrelated text"


def test_simhash_near_pairs_finds_dup(spark, docs):
    from kp_crypto_market_analytics_spark.operators.dedup import simhash_near_pairs

    pairs = simhash_near_pairs(docs, "text", "doc_id", max_hamming=3).toPandas()
    got = set(map(tuple, pairs[["doc_a", "doc_b"]].values))
    assert (1, 2) in got
    assert pairs.set_index(["doc_a", "doc_b"]).loc[(1, 2), "hamming"] == 0


def test_ann_variants_recall(spark):
    # LSH (multiprobe) and IVF candidates are genuine neighbors: every
    # returned (query, neighbor, cos) must appear in the brute-force
    # full ranking with the same score, and recall@5 must be non-trivial.
    from kp_crypto_market_analytics_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )
    from kp_crypto_market_analytics_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", ["embeddings"])["embeddings"]
    queries = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=5).toPandas()
    truth = {
        (r.query_id, r.neighbor_id): r.cos for r in exact.itertuples()
    }
    for approx_df in (
        lsh_topk(emb, queries, k=5, planes=4, multiprobe=1),
        ivf_topk(emb, queries, k=5, nprobe=2, centroid_mod=37),
    ):
        approx = approx_df.toPandas()
        assert len(approx) > 0
        full = brute_force_topk(emb, queries, k=10_000).toPandas()
        all_scores = {(r.query_id, r.neighbor_id): r.cos for r in full.itertuples()}
        for r in approx.itertuples():
            assert (r.query_id, r.neighbor_id) in all_scores
            assert abs(all_scores[(r.query_id, r.neighbor_id)] - r.cos) < 1e-9
        hits = sum(1 for key in truth if key in {(r.query_id, r.neighbor_id) for r in approx.itertuples()})
        assert hits > 0, "approximate search must recall at least one true top-5 neighbor"


def test_pq_codes_complete_and_bounded(spark):
    # PQ compression invariants: every vector gets exactly m codes, each
    # within [0, ksub); the trained codebook never exceeds m*ksub entries
    # (Lloyd may drop empty cells, never add).
    from kp_crypto_market_analytics_spark.operators.similarity import (
        normalize_vectors,
        pq_codebooks,
        pq_encode,
    )
    from kp_crypto_market_analytics_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", ["embeddings"])["embeddings"]
    normed = normalize_vectors(emb)
    cb_df = pq_codebooks(normed, m=8, ksub=16)
    cb = cb_df.toPandas()
    assert len(cb) <= 8 * 16
    assert cb.groupby("s").size().max() <= 16
    codes = pq_encode(normed, cb_df, m=8).toPandas()
    n_vec = emb.count()
    assert len(codes) == n_vec * 8
    per_vec = codes.groupby("nid").size()
    assert (per_vec == 8).all()
    assert codes["code"].between(0, 15).all()


def test_pq_rerank_recall_and_exact_scores(spark):
    # The two-tier PQ path: every re-ranked hit carries the SAME cosine
    # as brute force (exact arithmetic on the shortlist), and recall@5
    # is far above chance (measured 0.88 here; chance ≈ 5/499).
    from kp_crypto_market_analytics_spark.operators.similarity import (
        brute_force_topk,
        pq_rerank_topk,
    )
    from kp_crypto_market_analytics_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", ["embeddings"])["embeddings"]
    queries = emb.where(F.col("vec_id") < 5)
    full = brute_force_topk(emb, queries, k=10_000).toPandas()
    all_scores = {(r.query_id, r.neighbor_id): r.cos for r in full.itertuples()}
    exact5 = brute_force_topk(emb, queries, k=5).toPandas()
    truth = {(r.query_id, r.neighbor_id) for r in exact5.itertuples()}
    rr = pq_rerank_topk(emb, queries, k=5, shortlist=100, m=8).toPandas()
    assert len(rr) == len(truth)
    for r in rr.itertuples():
        assert abs(all_scores[(r.query_id, r.neighbor_id)] - r.cos) < 1e-9
    hits = sum(1 for key in truth if key in {(r.query_id, r.neighbor_id) for r in rr.itertuples()})
    assert hits / len(truth) >= 0.6


def test_mm_decode_batch_shapes(spark):
    # The mapInPandas decode stage must preserve row count and produce
    # the declared schema with FEATURE_DIM-float features.
    from kp_crypto_market_analytics_spark.operators.multimodal import (
        FEATURE_DIM,
        decode_media,
    )

    media = spark.createDataFrame(
        [(i, "image" if i % 2 == 0 else "audio", bytes([i] * 100)) for i in range(10)],
        ["media_id", "kind", "payload"],
    )
    out = decode_media(media, fake=True).toPandas()
    assert len(out) == 10
    assert set(out["ok"]) == {"ok"}
    assert all(len(f) == FEATURE_DIM for f in out["features"])
    assert (out["width"] >= 16).all() and (out["height"] >= 16).all()


def test_mm_decode_real_codec_raises(spark):
    from kp_crypto_market_analytics_spark.operators.multimodal import decode_media

    media = spark.createDataFrame([(1, "image", b"\x00")], ["media_id", "kind", "payload"])
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        decode_media(media, fake=False).collect()


def test_connected_components_known_graph(spark):
    # Two triangles + chain + singleton: labels must be the component
    # minima regardless of edge direction.
    from kp_crypto_market_analytics_spark.operators.dedup import (
        connected_component_labels,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 4), (6, 5), (9, 8)], ["doc_a", "doc_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 11)], ["doc"])
    out = {
        r["doc"]: r["cluster_id"]
        for r in connected_component_labels(edges, nodes, "doc").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4, 7: 7, 8: 8, 9: 8, 10: 10}


def test_connected_components_nonconvergence_guard(spark):
    # A path graph's diameter equals its length, and min-label
    # propagation needs one round per hop — a chain-shaped duplicate
    # family longer than max_iters must RAISE (silent wrong labels
    # corrupt dedup), while enough rounds must label the whole chain 0.
    import pytest

    from kp_crypto_market_analytics_spark.operators.dedup import (
        connected_component_labels,
    )

    n = 40  # path 0-1-...-39, diameter 39
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"])
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc"])

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_component_labels(edges, nodes, "doc", max_iters=4)

    out = {
        r["doc"]: r["cluster_id"]
        for r in connected_component_labels(edges, nodes, "doc", max_iters=n + 1).collect()
    }
    assert out == {i: 0 for i in range(n)}


def test_ewma_matches_pandas(spark):
    import numpy as np
    from kp_crypto_market_analytics_spark.operators.windows import ewma_grouped
    from kp_crypto_market_analytics_spark.session import load_tables

    e = (
        load_tables(spark, "/root/testdata/sf0.001", ["events"])["events"]
        .select("event_type", "ts", "event_id", "value")
        .limit(500)
    )
    got = (
        ewma_grouped(e, "event_type", "ts", "value", alpha=0.2, tiebreak="event_id")
        .orderBy("event_type", "ts", "event_id")
        .toPandas()
    )
    pdf = e.toPandas().sort_values(["event_type", "ts", "event_id"])
    expected = (
        pdf.groupby("event_type")["value"]
        .apply(lambda s: s.ewm(alpha=0.2, adjust=False).mean())
        .reset_index(level=0, drop=True)
    )
    assert np.allclose(got["ewma"].values, expected.loc[pdf.index].values, atol=1e-12)


def test_pagerank_star_graph_centrality(spark):
    # Weighted PageRank on a 5-leaf star: the hub must outrank every
    # leaf, all leaves tie, and every rank stays within the theoretical
    # [1-d, 1-d + d*n] band.
    from kp_crypto_market_analytics_spark.operators.graph import pagerank_weighted

    leaves = [f"l{i}" for i in range(5)]
    directed = [("hub", leaf, 1) for leaf in leaves] + [
        (leaf, "hub", 1) for leaf in leaves
    ]
    edges = spark.createDataFrame(directed, "src: string, dst: string, weight: long")
    pr = {r.node: r.pr for r in pagerank_weighted(edges, iters=5).collect()}
    assert pr["hub"] > pr["l0"]
    assert len({pr[leaf] for leaf in leaves}) == 1
    for v in pr.values():
        assert 0.15 <= v <= 0.15 + 0.85 * 6


def test_pq_search_from_persisted_index(spark, tmp_path):
    # Round-trip: artifacts written to parquet and read back must serve
    # the IDENTICAL top-k as the freshly-trained in-query path — the
    # build-once / search-many amortization contract.
    from kp_crypto_market_analytics_spark.operators.similarity import (
        normalize_vectors,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
        pq_subvectors,
        pq_topk,
    )
    from kp_crypto_market_analytics_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", ["embeddings"])["embeddings"]
    normed = normalize_vectors(emb)
    queries = normed.where(F.col("vec_id") < 5)
    live = pq_topk(normed, queries, k=5, m=8, ksub=16).collect()

    subs = pq_subvectors(normed, m=8)
    cb = pq_codebooks(normed, m=8, ksub=16, subs=subs)
    codes = pq_encode(normed, cb, m=8, subs=subs)
    cb.write.parquet(str(tmp_path / "cb"))
    codes.write.parquet(str(tmp_path / "codes"))
    served = pq_adc_topk(
        spark.read.parquet(str(tmp_path / "cb")),
        spark.read.parquet(str(tmp_path / "codes")),
        queries,
        k=5,
        m=8,
    ).collect()
    assert sorted(map(tuple, live)) == sorted(map(tuple, served))


def test_ann_recall_floors_hold(spark):
    # The recall SLO tripwire (the oracle recomputes recall identically
    # on both engines, so only this assertion catches a regression in
    # the search path itself).
    from kp_crypto_market_analytics_spark.queries_ext import (
        sim_ivf_recall,
        sim_pq_recall,
    )

    ivf = sim_ivf_recall(spark, "/root/testdata/sf0.001").collect()[0]
    pq = sim_pq_recall(spark, "/root/testdata/sf0.001").collect()[0]
    assert ivf["meets_floor"] and ivf["n_true"] == 50
    assert pq["meets_floor"] and pq["n_true"] == 50
    assert pq["recall"] >= ivf["recall"]  # rerank beats cell pruning here


def test_skew_split_cumsum_equals_naive_window(spark):
    # In-engine parity: the split-and-merge plan must be bit-identical
    # to the naive single-partition window it replaces (the oracle gate
    # proves the same vs DuckDB; this pins it Spark-vs-Spark too).
    from pyspark.sql import Window

    from kp_crypto_market_analytics_spark.operators.windows import skew_split_cumsum
    from kp_crypto_market_analytics_spark.session import load_tables

    e = load_tables(spark, "/root/testdata/sf0.001", ["events"])["events"]
    split = {
        r["event_id"]: r["cum_value"]
        for r in skew_split_cumsum(
            e, "event_type", "ts", "event_id", "value", bucket_seconds=3600
        ).collect()
    }
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    naive = {
        r["event_id"]: r["cum"]
        for r in e.select(
            "event_id", F.sum(F.col("value").cast("decimal(18,6)")).over(w).alias("cum")
        ).collect()
    }
    assert split == naive


def test_skew_split_plan_never_sorts_hot_key_alone(spark):
    # The executed plan is the evidence: every window that touches the
    # FACT rows (ordering includes ts) must partition on (key, bucket),
    # never on the 5-value hot key alone — the single-key window may
    # appear only over the skinny per-bucket aggregate.
    from kp_crypto_market_analytics_spark.operators.windows import skew_split_cumsum
    from kp_crypto_market_analytics_spark.session import load_tables

    e = load_tables(spark, "/root/testdata/sf0.001", ["events"])["events"]
    df = skew_split_cumsum(e, "event_type", "ts", "event_id", "value")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    fact_windows = [
        ln for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "ts#" in ln
    ]
    assert fact_windows, "expected a window over the fact rows"
    for ln in fact_windows:
        assert "__b" in ln, f"fact window partitions on the hot key alone: {ln}"


def test_hll_error_and_bloom_fp_floors_hold(spark):
    # Same audit-tripwire rationale as the ANN recall floors: the
    # DuckDB oracle rebuilds both sketches identically, so only these
    # assertions catch a sketch-quality regression (a broken hash or
    # register layout would still "PASS" the gate with garbage error).
    from kp_crypto_market_analytics_spark.queries_ext import (
        a_hll_distinct,
        j_bloom_prune,
    )

    for row in a_hll_distinct(spark, "/root/testdata/sf0.01").collect():
        # m=1024 registers -> sigma = 1.04/sqrt(1024) = 3.25%; 3 sigma.
        assert abs(row["rel_err"]) < 0.10, row

    from kp_crypto_market_analytics_spark.queries_ext import a_hll_merge

    mg = a_hll_merge(spark, "/root/testdata/sf0.01").collect()[0]
    assert mg["merged_eq_direct"], mg  # register merge law (max-of-max)


def test_hll_overlap_discriminates_partial_overlaps(spark):
    # The shipped events table has IDENTICAL user sets per type, so the
    # gated a_hll_overlap rows can't show the estimator separating
    # overlap levels — construct disjoint/half/full overlaps and check
    # the inclusion-exclusion estimate lands near each truth.
    from kp_crypto_market_analytics_spark.queries_ext import (
        _hll_estimate,
        _hll_registers,
    )
    from pyspark.sql import functions as F

    rows = []
    rows += [("X", f"u{i}") for i in range(2000)]
    rows += [("Y", f"u{i}") for i in range(1000, 3000)]   # overlap 1000 with X
    rows += [("Z", f"u{i}") for i in range(5000, 7000)]   # disjoint from X
    e = spark.createDataFrame(rows, "event_type string, u string")
    regs = _hll_registers(e, ["event_type"]).localCheckpoint(eager=True)
    singles = {
        r["event_type"]: r["hll_est"]
        for r in _hll_estimate(regs, ["event_type"]).collect()
    }
    def union_est(a, b):
        pair = regs.where(F.col("event_type").isin([a, b])).groupBy("idx").agg(
            F.max("m").alias("m")
        )
        return _hll_estimate(
            pair.select(F.lit(1).alias("g"), "idx", "m"), ["g"]
        ).collect()[0]["hll_est"]

    # sigma = 1.04/sqrt(1024) = 3.25% per estimate; inclusion-exclusion
    # compounds it, so allow a generous 4-sigma-ish band on n=2000.
    xy = singles["X"] + singles["Y"] - union_est("X", "Y")
    xz = singles["X"] + singles["Z"] - union_est("X", "Z")
    assert abs(xy - 1000) < 450, xy
    assert abs(xz - 0) < 450, xz
    assert xy > xz + 300  # the estimator separates half from disjoint


def test_bloom_fp_floor_holds(spark):
    from kp_crypto_market_analytics_spark.queries_ext import j_bloom_prune

    b = j_bloom_prune(spark, "/root/testdata/sf0.01").collect()[0]
    assert b["n_bloom_pass"] >= b["n_true_match"], b  # no false negatives
    assert b["n_false_pos"] == b["n_bloom_pass"] - b["n_true_match"], b
    # 8192 bits / 3 hashes over ~100 keys -> fp well under 1%.
    assert b["fp_rate"] < 0.02, b


def test_interval_overlap_join_matches_naive_and_dedups(spark):
    """Pairs equal the naive theta join row-for-row — including
    intervals that share MANY grid cells (the owner-cell rule must
    emit each pair exactly once) and touching endpoints (closed
    semantics)."""
    from kp_crypto_market_analytics_spark.operators.joins import interval_overlap_join

    rows = [
        # (id, start_s, end_s) in epoch seconds; cell = 100 s
        (1, 0, 350),     # spans cells 0..3
        (2, 50, 320),    # overlaps 1 across 3 shared cells
        (3, 350, 400),   # touches 1's endpoint exactly (closed -> overlap)
        (4, 401, 500),   # disjoint from 1, overlaps 3? 401>400 -> no
        (5, 1000, 1001), # far away, no partner
    ]
    df = spark.createDataFrame(rows, "id int, s_s long, e_s long").select(
        "id",
        F.timestamp_millis(F.col("s_s") * 1000).alias("s"),
        F.timestamp_millis(F.col("e_s") * 1000).alias("e"),
    )
    a = df.select(F.col("id").alias("a_id"), F.col("s").alias("a_s"), F.col("e").alias("a_e"))
    b = df.select(F.col("id").alias("b_id"), F.col("s").alias("b_s"), F.col("e").alias("b_e"))
    got = sorted(
        (r["a_id"], r["b_id"])
        for r in interval_overlap_join(
            a, b, "a_s", "a_e", "b_s", "b_e", cell_seconds=100,
            extra_condition=F.col("a_id") < F.col("b_id"),
        ).collect()
    )
    naive = sorted(
        (r["a_id"], r["b_id"])
        for r in a.crossJoin(b)
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (F.col("a_s") <= F.col("b_e"))
            & (F.col("b_s") <= F.col("a_e"))
        )
        .collect()
    )
    # (3,4): 3 ends at 400, 4 starts at 401 -> NOT overlapping
    assert got == naive == [(1, 2), (1, 3)]
    # each pair exactly once despite 3 shared cells between 1 and 2
    assert len(got) == len(set(got))


def test_compaction_plan_packs_next_fit(spark):
    """The plan equals a pandas recompute of prefix-DIV-target packing
    per month, and bins partition the inventory (totals reconstruct)."""
    from kp_crypto_market_analytics_spark.queries_ext import p_compaction_plan
    from kp_crypto_market_analytics_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    rows = p_compaction_plan(spark, sf).collect()
    assert rows
    li = load_tables(spark, sf, ["lineitem"])["lineitem"]
    files = (
        li.groupBy(F.date_trunc("month", "l_shipdate").alias("mon"), "l_partkey")
        .count()
        .toPandas()
        .sort_values(["mon", "l_partkey"])
    )
    expect = {}
    for mon, g in files.groupby("mon", sort=True):
        prefix = 0
        for _, f in g.iterrows():
            b = prefix // 200
            key = (mon, b)
            n, tot = expect.get(key, (0, 0))
            expect[key] = (n + 1, tot + int(f["count"]))
            prefix += int(f["count"])
    got = {(r["mon"], r["bin"]): (r["n_files"], r["bin_rows"]) for r in rows}
    assert got == expect
    assert sum(v[1] for v in got.values()) == li.count()


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc pasted inside a much longer one: containment ~1.0 in
    the short->long direction only, while Jaccard stays far below the
    near-dup threshold."""
    from kp_crypto_market_analytics_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    needle = "the secret benchmark prompt asks about prime factorization"
    hay = (
        "this long training document discusses many unrelated topics "
        "including cooking weather sports and history before quoting "
        + needle
        + " and then continues with several more paragraphs of filler "
        "text about distributed systems databases and columnar storage "
        "engines and finally concludes with acknowledgements and notes"
    )
    docs = spark.createDataFrame(
        [(1, needle), (2, hay), (3, "entirely disjoint third text body")],
        ["doc_id", "text"],
    )
    out = ngram_containment_pairs(
        docs, "text", "doc_id", k=4, threshold_pct=80, max_shingle_freq=None
    ).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert (1, 2) in pairs, "contained direction must fire"
    assert (2, 1) not in pairs, "container direction must not"
    r = pairs[(1, 2)]
    assert r["inter_size"] == r["size_a"], "every needle shingle is in the hay"
    jacc = r["inter_size"] / (r["size_a"] + r["size_b"] - r["inter_size"])
    assert jacc < 0.5, "jaccard would have missed this pair"


def test_misra_gries_guarantees_on_skewed_stream(spark):
    """Distributed MG summary honors all three published guarantees on
    a skewed multi-partition stream: <= k counters, never an
    overestimate, underestimate <= 2N/(k+1), and every item with true
    count > 2N/(k+1) survives."""
    from kp_crypto_market_analytics_spark.operators.heavyhitters import (
        misra_gries_topk,
    )

    k = 9
    items = (
        ["hot"] * 3000
        + ["warm"] * 1500
        + [f"cold{i % 200}" for i in range(5500)]
    )
    df = spark.createDataFrame([(t,) for t in items], ["tok"]).repartition(8)
    n = len(items)
    out = {r["tok"]: r["w"] for r in misra_gries_topk(df, "tok", k).collect()}
    exact = {"hot": 3000, "warm": 1500}
    for i in range(200):
        exact[f"cold{i}"] = exact.get(f"cold{i}", 0) + (5500 // 200 + (1 if i < 5500 % 200 else 0))
    bound = 2 * n / (k + 1)
    assert len(out) <= k
    for tok, w in out.items():
        assert w <= exact[tok], (tok, w, exact[tok])
        assert exact[tok] - w <= bound, (tok, w, exact[tok])
    for tok, cf in exact.items():
        if cf > bound:
            assert tok in out, f"guaranteed heavy hitter {tok} evicted"
    assert "hot" in out
