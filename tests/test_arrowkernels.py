"""Bit-identity pins for the Arrow/NumPy kernels (operators/arrowkernels):
every kernel must produce EXACTLY the doubles/ints the interpreted
Catalyst fold expressions it replaced produce — the sequential-
accumulation contract in the module docstring.  Comparison is on raw
IEEE bit patterns (struct.pack), not approx-equality: a 1-ulp drift in a
hyperplane dot could flip a sign bit and change LSH candidate sets."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from langchain_callback_parquet_logger_spark.operators import similarity as S
from langchain_callback_parquet_logger_spark.operators.arrowkernels import (
    band_signature_frame,
    centroid_assign_frame,
    pq_assign_frame,
)
from langchain_callback_parquet_logger_spark.plans.session import load_table


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def _base(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


@pytest.mark.parametrize(
    "planes, n_bands",
    [
        (S.PLANES, S.LSH_BANDS),  # 16-bit kNN family
        (S.DEDUP_PLANES, S.DEDUP_LSH_BANDS),  # narrow dedup family
        (S.DEDUP_PLANES_WIDE, S.DEDUP_LSH_BANDS),  # wide
        (S.DEDUP_PLANES_XWIDE, S.DEDUP_LSH_BANDS),  # extra-wide
    ],
    ids=["knn16", "narrow32", "wide64", "xwide96"],
)
def test_band_kernel_bit_identical_to_fold(spark, sf_dir, planes, n_bands):
    base = _base(spark, sf_dir)
    fold = base.select(
        "vec_id",
        S._as_double(F.col("embedding")).alias("emb"),
    ).select(
        "vec_id",
        "emb",
        S.norm(F.col("emb")).alias("nrm"),
        F.array(*S._band_cols(F.col("emb"), planes, n_bands)).alias("bands"),
    )
    kern = band_signature_frame(base, planes, n_bands)

    want = {r.vec_id: r for r in fold.collect()}
    got = {r.vec_id: r for r in kern.collect()}
    assert set(want) == set(got) and want
    for vid, w in want.items():
        g = got[vid]
        assert list(w.bands) == list(g.bands), vid
        assert _bits(w.nrm) == _bits(g.nrm), vid
        assert [_bits(x) for x in w.emb] == [_bits(x) for x in g.emb], vid


def test_band_kernel_rejects_width_mismatch(spark, sf_dir):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    short = _base(spark, sf_dir).select(
        "vec_id", F.slice("embedding", 1, 7).alias("embedding")
    )
    with pytest.raises((Py4JJavaError, PySparkException, Exception)) as ei:
        band_signature_frame(short, S.DEDUP_PLANES, S.DEDUP_LSH_BANDS).count()
    assert "fixed width" in str(ei.value)


def test_pq_kernel_bit_identical_to_fold(spark, sf_dir):
    base = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb = base.select("vec_id", S._as_double(F.col("embedding")).alias("emb"))
    # The expression form q_pq_quantize used before the kernel, verbatim.
    sub_errs, codes = [], []
    for s in range(S.PQ_SUBSPACES):
        sub = F.slice(F.col("emb"), s * S.PQ_SUBDIM + 1, S.PQ_SUBDIM)
        dists = [
            F.aggregate(
                F.zip_with(
                    sub,
                    F.array(*[F.lit(v) for v in S.PQ_CODEBOOK[s][c]]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in range(S.PQ_CODEWORDS)
        ]
        sub_errs.append(F.least(*dists))
        codes.append(
            F.array_min(
                F.array(
                    *[
                        F.struct(dists[c].alias("d"), F.lit(c).alias("c"))
                        for c in range(S.PQ_CODEWORDS)
                    ]
                )
            )["c"]
        )
    err = sub_errs[0]
    for e in sub_errs[1:]:
        err = err + e
    fold = emb.select(
        "vec_id",
        err.alias("err"),
        F.concat_ws(",", *[c.cast("string") for c in codes]).alias("code"),
    )
    kern = pq_assign_frame(base, S.PQ_CODEBOOK)
    want = {r.vec_id: r for r in fold.collect()}
    got = {r[0]: r for r in kern.collect()}
    assert set(want) == set(got) and want
    for vid, w in want.items():
        g = got[vid]
        assert _bits(w.err) == _bits(g.err), vid
        assert w.code == g.code, vid


def test_centroid_kernel_matches_broadcast_argmin(spark, sf_dir):
    emb = _base(spark, sf_dir).select(
        "vec_id", S._as_double(F.col("embedding")).alias("emb")
    )
    seeds = (
        emb.orderBy("vec_id")
        .limit(S.KMEANS_K)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("c_emb"))
    )
    # The broadcast-cross-join + min(struct(score, cid)) aggregate the
    # kernel replaced, verbatim.
    cents = F.broadcast(
        seeds.withColumn("c_sq", S.dot(F.col("c_emb"), F.col("c_emb")))
    )
    scored = emb.crossJoin(cents).select(
        "vec_id",
        "cid",
        (F.col("c_sq") - 2.0 * S.dot(F.col("emb"), F.col("c_emb"))).alias("score"),
    )
    best = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("score", "cid")).alias("best"))
        .select("vec_id", F.col("best.cid").alias("cid"))
    )
    want = {r.vec_id: r.cid for r in best.collect()}

    kern = centroid_assign_frame(
        emb, S._centroid_rows(seeds), keep_emb=False, with_norm=True
    )
    got = {r.vec_id: r.cid for r in kern.collect()}
    assert want == got and want

    # hoisted norms bit-match the fold norm
    nf = {r.vec_id: r.n for r in emb.select("vec_id", S.norm(F.col("emb")).alias("n")).collect()}
    nk = {r.vec_id: r.nrm for r in kern.collect()}
    assert all(_bits(nf[v]) == _bits(nk[v]) for v in nf)


def test_pair_score_frame_bit_identical_to_fold_projection(spark, sf_dir):
    """The pair-scoring kernel must emit exactly the (pair, raw score)
    rows the per-pair fold projection over the band join produced — same
    multiset of pairs per orientation, bit-identical sim and prefix sims."""
    from langchain_callback_parquet_logger_spark.operators.arrowkernels import (
        pair_score_frame,
    )

    S._BANDED_EMB_MEMO.clear()
    _, bands = S._banded_emb(spark, sf_dir)
    prefixes = S.MRL_PREFIXES

    full = S.dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    pcols = []
    for p in prefixes:
        sa = F.slice(F.col("emb_a"), 1, p)
        sb = F.slice(F.col("emb_b"), 1, p)
        pcols.append(
            (S.dot(sa, sb) / (S.norm(sa) * S.norm(sb))).alias(f"p{p}_raw")
        )
    for symmetric in (False, True):
        joined = S._lsh_scored_pairs(bands, symmetric=symmetric)
        want = sorted(
            (r.vec_a, r.vec_b, _bits(r.sim_raw))
            + tuple(_bits(r[f"p{p}_raw"]) for p in prefixes)
            for r in joined.select(
                "vec_a", "vec_b", full.alias("sim_raw"), *pcols
            ).collect()
        )
        got = sorted(
            (r.vec_a, r.vec_b, _bits(r.sim_raw))
            + tuple(_bits(r[f"p{p}_raw"]) for p in prefixes)
            for r in pair_score_frame(joined, prefixes=prefixes).collect()
        )
        assert want and want == got, (symmetric, len(want), len(got))
    from langchain_callback_parquet_logger_spark.plans.session import (
        release_caches,
    )

    release_caches()


def test_gather_arm_bit_identical_to_payload_arm(spark, sf_dir):
    """The two _scored_pair_frame strategies (gather-from-broadcast vs
    bucket-local payload kernel) must yield the identical unique pair set
    with bit-identical raw scores — the EMB_GATHER_MAX_BYTES gate is then
    a pure strategy decision that can never change results."""
    from langchain_callback_parquet_logger_spark.operators.arrowkernels import (
        gather_pair_scores,
        pair_score_frame,
    )

    S._BANDED_EMB_MEMO.clear()
    emb, bands = S._banded_emb(spark, sf_dir)
    prefixes = S.MRL_PREFIXES
    for symmetric in (False, True):
        gather = sorted(
            (r.vec_a, r.vec_b, _bits(r.sim_raw))
            + tuple(_bits(r[f"p{p}_raw"]) for p in prefixes)
            for r in gather_pair_scores(
                S._lsh_candidate_pairs(bands, symmetric=symmetric),
                emb,
                prefixes=prefixes,
            ).collect()
        )
        payload = sorted(
            (r.vec_a, r.vec_b, _bits(r.sim_raw))
            + tuple(_bits(r[f"p{p}_raw"]) for p in prefixes)
            for r in pair_score_frame(
                S._lsh_scored_pairs(bands, symmetric=symmetric),
                prefixes=prefixes,
            )
            .distinct()
            .collect()
        )
        assert gather and gather == payload, (symmetric, len(gather), len(payload))
    from langchain_callback_parquet_logger_spark.plans.session import (
        release_caches,
    )

    release_caches()


def test_cluster_pair_sims_bit_identical_to_join_fold(spark, sf_dir):
    emb = _base(spark, sf_dir).select(
        "vec_id", S._as_double(F.col("embedding")).alias("emb")
    )
    assigned = S.kmeans_assign(emb, S.kmeans_fit(emb), with_norm=True)
    a = assigned.select(
        "cid",
        F.col("vec_id").alias("id_a"),
        F.col("emb").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = assigned.select(
        "cid",
        "vec_id",
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    sim = S.dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    want = sorted(
        (r.cid, r.vec_id, _bits(r.s))
        for r in a.join(b, "cid")
        .filter(F.col("id_a") < F.col("vec_id"))
        .select("cid", "vec_id", sim.alias("s"))
        .collect()
    )
    from langchain_callback_parquet_logger_spark.operators.arrowkernels import (
        cluster_pair_sims,
    )

    got = sorted(
        (r.cid, r.vec_id, _bits(r.sim_raw))
        for r in cluster_pair_sims(
            assigned.select("cid", "vec_id", "emb", "nrm")
        ).collect()
    )
    assert want and want == got


def test_probe_topk_kernel_matches_fold_cross_join(spark, sf_dir):
    """q_ann_recall_audit's exact leg: the gather-kernel arm must (a)
    emit bit-identical raw sims for every (probe, nb) row it keeps, and
    (b) after the UNCHANGED quantize + ranking window, yield byte-
    identical top-K rows to the probes x corpus fold join it replaces —
    the superset-cutoff proof in probe_topk_candidates, checked on data."""
    from pyspark.sql import Window as W

    from langchain_callback_parquet_logger_spark.operators.arrowkernels import (
        collect_corpus,
        probe_topk_candidates,
    )
    from langchain_callback_parquet_logger_spark.plans.session import (
        release_caches,
        track_unpersistable,
    )

    S._BANDED_EMB_MEMO.clear()
    emb, _ = S._banded_emb(spark, sf_dir)
    is_probe = F.col("vec_id") % S.ANN_AUDIT_MOD == 0
    k = S.ANN_JOIN_K

    # fold reference: the exact probes x corpus plan, verbatim
    probes = emb.filter(is_probe).select(
        F.col("vec_id").alias("probe_id"),
        F.col("emb").alias("emb_p"),
        F.col("nrm").alias("nrm_p"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("nb_id"),
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    sim = S.dot(F.col("emb_p"), F.col("emb_b")) / (
        F.col("nrm_p") * F.col("nrm_b")
    )
    fold_raw = probes.join(corpus, F.col("probe_id") != F.col("nb_id")).select(
        "probe_id", "nb_id", sim.alias("sim_raw")
    )

    bc = spark.sparkContext.broadcast(collect_corpus(emb))
    track_unpersistable(bc)
    kern_raw = probe_topk_candidates(
        emb.filter(is_probe).select(F.col("vec_id").alias("probe_id")), bc, k
    )

    # (a) every kernel row's raw sim bit-matches the fold's for that pair,
    # and the kernel kept at least k rows per probe (superset of top-k)
    want_raw = {
        (r.probe_id, r.nb_id): _bits(r.sim_raw) for r in fold_raw.collect()
    }
    kern_rows = kern_raw.collect()
    assert kern_rows
    per_probe: dict[int, int] = {}
    for r in kern_rows:
        assert want_raw[(r.probe_id, r.nb_id)] == _bits(r.sim_raw), (
            r.probe_id,
            r.nb_id,
        )
        per_probe[r.probe_id] = per_probe.get(r.probe_id, 0) + 1
    n_corpus = emb.count()
    for pid, cnt in per_probe.items():
        assert cnt >= min(k, n_corpus - 1), pid

    # (b) quantize + window over each arm -> identical top-k rows
    def topk(raw):
        q = raw.select(
            "probe_id",
            "nb_id",
            F.round(F.col("sim_raw") * F.lit(1e6)).cast("bigint").alias("sim_q"),
        )
        w = W.partitionBy("probe_id").orderBy(
            F.col("sim_q").desc(), F.col("nb_id").asc()
        )
        return sorted(
            (r.probe_id, r.nb_id, r.sim_q)
            for r in q.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .collect()
        )

    assert topk(fold_raw) == topk(kern_raw)
    release_caches()


def test_gather_max_bytes_derivation(spark, monkeypatch):
    """The gather budget derives from spark.driver.memory (//8, floored
    at 64 MB, capped at 2 GiB); the env override wins unconditionally."""
    monkeypatch.delenv("SPARK_GRAFT_EMB_GATHER_MAX_BYTES", raising=False)
    driver_mem = S._parse_mem_bytes(spark.conf.get("spark.driver.memory"))
    want = min(max(driver_mem // 8, 64 * 1024 * 1024), 2 * 1024**3)
    assert S.gather_max_bytes(spark) == want
    monkeypatch.setenv("SPARK_GRAFT_EMB_GATHER_MAX_BYTES", "12345")
    assert S.gather_max_bytes(spark) == 12345
    # memory-string grammar
    assert S._parse_mem_bytes("16g") == 16 * 1024**3
    assert S._parse_mem_bytes("512m") == 512 * 1024**2
    assert S._parse_mem_bytes("1024") == 1024 * 1024**2  # unitless is MiB
    assert S._parse_mem_bytes("1024b") == 1024
    assert S._parse_mem_bytes("2t") == 2 * 1024**4
    assert S._parse_mem_bytes("nonsense") is None


def test_kmeans_fit_centroids_unchanged_by_materialization(spark, sf_dir):
    """kmeans_fit now materializes each Lloyd step's centroids as a local
    relation; the VALUES must equal the former lazy-chain fit (rounding
    to 6dp already made the update step engine-stable, so equality here
    is exact)."""
    emb = _base(spark, sf_dir).select(
        "vec_id", S._as_double(F.col("embedding")).alias("emb")
    )
    got = {r.cid: list(r.c_emb) for r in S.kmeans_fit(emb).collect()}

    # reference: the same Lloyd loop with NO per-iteration materialization,
    # using the pre-kernel broadcast assign shape
    centroids = (
        emb.orderBy("vec_id")
        .limit(S.KMEANS_K)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("c_emb"))
    )
    for _ in range(S.KMEANS_ITERS):
        cents = F.broadcast(
            centroids.withColumn("c_sq", S.dot(F.col("c_emb"), F.col("c_emb")))
        )
        scored = emb.crossJoin(cents).select(
            "vec_id",
            "cid",
            (F.col("c_sq") - 2.0 * S.dot(F.col("emb"), F.col("c_emb"))).alias(
                "score"
            ),
        )
        best = (
            scored.groupBy("vec_id")
            .agg(F.min(F.struct("score", "cid")).alias("best"))
            .select("vec_id", F.col("best.cid").alias("cid"))
        )
        assigned = emb.join(best, "vec_id").select("vec_id", "emb", "cid")
        dims = assigned.select("cid", F.posexplode("emb").alias("dim", "val"))
        means = dims.groupBy("cid", "dim").agg(
            F.round(F.avg("val"), 6).alias("m")
        )
        centroids = means.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("c_emb")
        )
    want = {r.cid: list(r.c_emb) for r in centroids.collect()}
    assert set(want) == set(got) and want
    for cid in want:
        assert [_bits(x) for x in want[cid]] == [_bits(x) for x in got[cid]], cid


def test_seq_dot_panel_bit_identical_to_fold():
    """_seq_dot_panel (einsum fast path when the build's sequential-order
    property holds, explicit fold otherwise) must be bit-identical to the
    per-dim fold across block shapes, chunk tails and strided views."""
    import numpy as np

    from langchain_callback_parquet_logger_spark.operators.arrowkernels import (
        _fold_dot_panel,
        _seq_dot_panel,
    )

    rng = np.random.default_rng(42)
    MT = np.ascontiguousarray(rng.standard_normal((64, 5000)))
    for b in (1, 3, 16, 17):
        P = rng.standard_normal((b, 64))
        for sl in (slice(0, 5000), slice(137, 1137), slice(4990, 5000)):
            want = _fold_dot_panel(P, MT[:, sl])
            got = _seq_dot_panel(P, MT[:, sl])
            assert (got.view(np.int64) == want.view(np.int64)).all(), (b, sl)
