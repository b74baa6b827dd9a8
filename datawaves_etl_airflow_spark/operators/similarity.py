"""Embedding similarity search: brute-force cosine top-k (exact
baseline), random-hyperplane LSH bucketing, and an IVF (inverted-file)
index — the three standard ANN tiers.

Vectors are ``array<float>`` columns. All arithmetic runs JVM-side via
higher-order functions (``zip_with``/``aggregate``) in double precision
— left-to-right accumulation, so results are deterministic and
reproducible by any engine that sums the same way.

Scale posture: brute force is O(n·q) — correct for reranking a
candidate set or small q; the LSH variant buckets by sign-pattern over
``n_planes`` fixed random hyperplanes so each query only scores its
bucket (plus optional multi-probe neighbors at 1-bit flips); IVF
partitions the corpus into ``n_centroids`` spherical-k-means cells and
each query scores only its ``nprobe`` nearest cells — the shuffle key
is the centroid id, candidate volume is ``nprobe/n_centroids`` of the
corpus, and recall/cost is tunable per query batch. At 100 TB the
centroid set stays tiny (≤ a few thousand rows, always broadcast), the
index build is one crossJoin-against-broadcast + hash aggregation per
Lloyd iteration, and nothing ever shuffles the corpus by anything
other than its cell id.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, left-to-right."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of every query against the full corpus.

    ``queries`` carries (query_id, query_vec). Deterministic tiebreak:
    (cosine desc, corpus id asc). The bounded query set is explicitly
    broadcast: above the auto-broadcast threshold a bare crossJoin
    degrades to a cartesian shuffle of the CORPUS, which is exactly
    the plan this operator's scale contract (replicate the small side,
    stream the big side) forbids.
    """
    # project to (query_id, id, cosine) BEFORE the ranking window: the
    # window's exchange otherwise carries both dense vectors per scored
    # row — ~40× the bytes the ranking needs (guide §2.3: project
    # before the exchange). r13 opt round; values unchanged.
    joined = (
        F.broadcast(queries)
        .crossJoin(vectors)
        .select(
            "query_id",
            F.col(id_col),
            cosine(F.col("query_vec"), F.col(vec_col)).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("match_id"),
            "rank",
            F.round("cosine", 6).alias("cosine_sim"),
        )
    )


def knn_label_predict(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Majority-vote kNN label prediction — the standard embedding-
    quality eval for a labeled training corpus: each query's label is
    predicted from its ``k`` nearest corpus neighbors by cosine, with
    the query's own id excluded so corpus-drawn queries get leave-one-
    out semantics. High accuracy ⟺ the embedding space separates the
    labels, which is what decides whether ANN dedup/curation over it
    can be trusted.

    ``queries`` carries (query_id, query_vec, true_label). Output:
    (query_id, true_label, pred_label, correct) — fully deterministic
    (neighbor ties break on corpus id, vote ties on the smaller
    label). Scale shape: identical to `brute_force_topk` (bounded
    query set broadcast against the corpus — the hint is explicit for
    the same reason as there, a bare crossJoin above the threshold
    shuffles the corpus cartesian-style); for full-corpus evals feed a
    sampled query set, or use `knn_label_predict_index` (candidates
    from a persisted IVF index, scan bounded by partition pruning).
    """
    # narrow projection before the ranking window (r13 opt round —
    # same §2.3 fix as `brute_force_topk`: the exchange needs ids,
    # labels and the score, never the dense vectors)
    joined = (
        F.broadcast(queries).crossJoin(vectors)
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            "true_label",
            F.col(id_col),
            F.col(label_col),
            cosine(F.col("query_vec"), F.col(vec_col)).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    neighbors = joined.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    votes = neighbors.groupBy(
        "query_id", "true_label", F.col(label_col).alias("pred_label")
    ).agg(F.count(F.lit(1)).alias("n_votes"))
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("pred_label").asc()
    )
    return (
        votes.withColumn("_r", F.row_number().over(wv))
        .filter(F.col("_r") == 1)
        .select(
            "query_id",
            "true_label",
            "pred_label",
            (F.col("true_label") == F.col("pred_label")).alias("correct"),
        )
    )


def knn_label_predict_index(
    labels: DataFrame,
    queries: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    label_col: str = "label",
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
) -> DataFrame:
    """`knn_label_predict` backed by a persisted IVF index — the
    full-corpus-eval path its brute-force twin's docstring prescribes:
    candidates come from `ivf_search_index` (corpus scan bounded by
    ``centroid_id=`` partition pruning to ``nprobe/n_centroids`` of
    the bytes), the majority vote runs over them. Same output schema
    and tiebreaks as the brute-force form.

    ``labels`` carries (id_col, label_col) — labels live beside the
    corpus, not inside the index (the index stores only id + vector,
    so one label backfill never forces an index rebuild); the join is
    on candidate ids, |queries|·k rows, never the corpus.

    Leave-one-out: the index is probed for ``k + 1`` neighbors and
    the query's own id dropped, so corpus-drawn query sets get the
    same self-exclusion as the brute-force form. Ordering reuses the
    probe's ``rank`` (computed on the UNROUNDED cosine inside
    `ivf_search_index`), so neighbor selection is exactly the probe's
    — at ``nprobe = n_centroids`` it is bit-identical to brute force,
    which is what lets the full-probe eval share the exact-kNN oracle.

    Row coverage is always |queries|: a query whose probed cells hold
    no non-self candidates comes back with NULL ``pred_label`` /
    ``correct`` rather than vanishing, so pruned-probe evals can't
    silently shrink their denominator.

    ``rerank`` / ``rerank_factor`` pass straight through to
    `ivf_search_index` — over an int8 index, supply the raw corpus so
    neighbor selection (and therefore every vote) runs on exact
    cosines instead of the quantized reconstruction; widen
    ``rerank_factor`` when the corpus's cosine spacing is tighter
    than the quantization drift so the exact neighbors reliably make
    the quantized shortlist.
    """
    cand = ivf_search_index(
        queries,
        path,
        nprobe=nprobe,
        k=k + 1,
        rerank=rerank,
        rerank_factor=rerank_factor,
    )
    qmeta = queries.select("query_id", "true_label")
    # drop self, then keep the k best surviving ranks per query (rank
    # order == unrounded cosine order, so no re-scoring is needed)
    wr = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    neighbors = (
        cand.filter(F.col("query_id") != F.col("match_id"))
        .withColumn("_r", F.row_number().over(wr))
        .filter(F.col("_r") <= k)
    )
    lab = labels.select(
        F.col(id_col).alias("match_id"), F.col(label_col).alias("pred_label")
    )
    votes = neighbors.join(lab, "match_id").groupBy(
        "query_id", "pred_label"
    ).agg(F.count(F.lit(1)).alias("n_votes"))
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("pred_label").asc()
    )
    preds = (
        votes.withColumn("_v", F.row_number().over(wv))
        .filter(F.col("_v") == 1)
        .select("query_id", "pred_label")
    )
    # LEFT join from the query set: a query whose probed cells yield
    # no non-self candidates (pruned nprobe against sparse/empty
    # cells) still emits a row, with NULL pred_label and NULL correct
    # — row coverage is always |queries|, so an eval aggregating
    # `correct` can SEE missing predictions instead of silently
    # averaging over a shrunken denominator.
    return qmeta.join(preds, "query_id", "left").select(
        "query_id",
        "true_label",
        "pred_label",
        (F.col("true_label") == F.col("pred_label")).alias("correct"),
    )


def neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ t).

    Exact all-pairs form — the oracle-checkable baseline; at scale,
    feed LSH buckets through the same scoring instead.
    """
    a = vectors.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = vectors.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select(
            "id_a", "id_b", F.round("cosine", 6).alias("cosine_sim")
        )
    )


def neardup_pairs_banded(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = 16,
    band_bits: int = 12,
    seed: int = 7,
    max_docs_per_band: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via banded sign-LSH candidates + exact
    cosine rerank — the 100 TB form of :func:`neardup_pairs` (which is
    an all-pairs crossJoin and exists as the oracle twin only).

    ``max_docs_per_band`` is the degenerate-cluster skew valve — the
    embedding twin of `dedup.minhash_dedup_pairs`'s valve of the same
    name: candidate volume is Σ bucket² over band buckets, and a
    failed upstream embedding job that emits thousands of identical
    (or all-constant) vectors puts them ALL in the same bucket of
    EVERY band — one bucket then contributes k²/2 pairs, the exact
    quadratic blowup banding exists to prevent (the all-zero-vector
    shape is additionally caught by the malformed-row filter only when
    NULL/mis-sized; a constant non-null vector is legal input). Band
    buckets above the cap are dropped before the self-join (one extra
    windowed count on the same shuffle key). Recall contract: a pair
    sharing any *non-crowded* band is still found; members of a
    dropped mega-bucket pair only through their other bands — and a
    degenerate identical-vector crowd collides in ALL bands, so it is
    deliberately left to an exact-dedup pass (which catches identical
    vectors outright) rather than allowed to melt the band join.
    Default None preserves exact candidate semantics (the oracle- and
    parity-pinned configuration); production pipelines should set the
    recommended cap in `operators.valves.PRODUCTION_VALVES`.

    Candidates are pairs sharing ANY band's ``band_bits``-bit
    sign-pattern: per-bit collision is p = 1-θ/π, a pair survives with
    1-(1-p^band_bits)^n_bands. The defaults target the production
    near-dup regime (cos ≥ 0.95, θ ≤ 18°, p ≥ 0.9): miss probability
    ~(1-0.28)^16 ≈ 5e-3 at the threshold and ≤1e-8 at cos 0.99+, while
    a random pair (p ≈ 0.5) collides per band with 2^-12 — each band
    splits the corpus into 4096 buckets, so candidate volume is
    ~n²·n_bands/4096, not n². Sign-LSH cannot do this for diffuse
    thresholds (cos 0.45 → p ≈ 0.65/bit barely above random; no (r, b)
    both prunes and recalls) — that regime wants the IVF path or an
    exact pass.

    Scaling recipe (the same corpus-scaled operating point as
    :func:`semantic_dedup`'s n_centroids): grow ``band_bits`` with
    log₂ of the corpus growth so expected bucket occupancy — and with
    it Σ bucket², the candidate volume per row — stays constant, and
    grow ``n_bands`` to hold the S-curve recall at the new width
    (e.g. 100× rows → 19 bits / 32 bands keeps miss ≈1% at cos 0.95).
    Fixed 12-bit buckets at 100× rows hold ~500 docs each, and the
    band join pays that occupancy QUADRATICALLY — the factor-100
    scalecheck measured 187× (and >50 GB of shuffle spill) flat-config
    vs the scaled operating point recorded in SCALE.md.

    Signature generation is an Arrow-batched pandas UDF — one numpy
    ``(batch×dim) @ (dim×planes)`` matmul per batch — because the
    n_bands·band_bits sign bits are exactly the shape builtin
    expressions handle worst: unrolling 192 dot-product folds (whether
    as literal planes or nested HOFs) produces an expression tree that
    blows past whole-stage codegen limits and silently drops the plan
    to interpreted mode (~20× slower than the matmul). The planes are
    ``np.random.RandomState(seed)`` Gaussians — deterministic across
    runs, so the candidate set (and output) is reproducible, which the
    parity tests exploit to pin the banded result equal to the
    all-pairs result at test scale. The exact rerank stays JVM-side
    (``zip_with``/``aggregate`` folds, bit-identical to the oracle).
    Signatures are map-side; the only exchanges are the band-key
    self-join and the two id-keyed rerank joins — never an unbounded
    cross product.
    """
    from pyspark.sql.functions import pandas_udf

    planes = np.random.RandomState(seed).standard_normal(
        (n_bands * band_bits, dim)
    )
    weights = 1 << np.arange(band_bits - 1, -1, -1)

    # malformed rows (NULL or wrong-length embedding) are dropped
    # BEFORE signature generation: letting them through would (a) give
    # every malformed row the same all-zeros signature — k malformed
    # rows become k²/2 candidate pairs, the quadratic blowup this
    # design exists to prevent — and (b) let two same-wrong-length
    # rows survive the exact rerank with a garbage cosine. The
    # all-pairs twin tolerates them by emitting NULL cosines; here the
    # equivalent is exclusion.
    vectors = vectors.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )

    @pandas_udf("array<long>")
    def band_hashes(v: pd.Series) -> pd.Series:
        rows = v.tolist()
        mat = np.zeros((len(rows), dim), dtype=np.float64)
        for i, r in enumerate(rows):
            if r is not None and len(r) == dim:  # belt-and-braces
                mat[i] = r
        bits = (mat @ planes.T) >= 0  # batch × n_planes
        h = bits.reshape(len(mat), n_bands, band_bits) @ weights
        return pd.Series(list(h.astype(np.int64)))

    sigs = vectors.select(
        F.col(id_col).alias("id"),
        F.posexplode(band_hashes(F.col(vec_col))).alias(
            "band_id", "band_hash"
        ),
    )
    # candidate generation via per-bucket pair emission (r13 opt
    # round, `dedup.bucket_pairs`): one exchange on the band key and
    # ONE evaluation of the sign-matmul UDF, vs the band-key self-join
    # that evaluated the ArrowEvalPython signature UDF once per join
    # side; the max_docs_per_band valve becomes the bucket-size cap —
    # same drop-the-crowded-bucket semantics as the windowed count,
    # minus the window sort.
    from .dedup import bucket_pairs

    cands = bucket_pairs(
        sigs,
        ["band_id", "band_hash"],
        ["id"],
        max_per_bucket=max_docs_per_band,
        # exactness-by-default: the registered valve is
        # neardup_pairs_banded.max_docs_per_band (valves.py)
        allow_unbounded=max_docs_per_band is None,
    ).distinct()
    va = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine_sim"))
    )


def _assign_cells_np(
    norm: DataFrame, vcol: str, centroids: DataFrame
) -> DataFrame:
    """semantic_dedup's flat-path cell assignment as one NumPy pass:
    ``(_vid, _v)`` → ``(_vid, _v, centroid_id, _csim)`` with
    ``centroid_id`` the argmax-cosine cell (ties to the smaller
    centroid id — the engine's one assignment rule, preserved by
    sorting the centroid matrix by id so ``np.argmax``'s first-max
    tie-break lands on the smaller id) and ``_csim`` that winning
    similarity (the far_from_centroid keep policy's input, computed
    here for free instead of a broadcast join + interpreted dot).

    Why not :func:`_assign_cells`: the expression argmax runs the
    zip_with/aggregate dot inside a ``transform`` lambda — higher-
    order functions never reach whole-stage codegen, so every row
    pays k interpreted dim-length folds (measured 2.15× slower than
    the BLAS matmul at sf0.1's k=16, and the gap grows linearly with
    k in the SemDeDup regime where k scales with the corpus). The
    expression path stays the shared default for the ANN/IVF estate;
    this variant is private to semantic_dedup, whose registered
    oracles compare planted booleans with documented margins
    (argmax gap ≥ 1.5e-7, keep-rule gap ≥ 1.2e-8, pair margins
    ≥ 0.38) — orders of magnitude above the ~1e-15 float64
    sum-association drift between BLAS and the sequential fold.

    The centroid table is collected to the driver — bounded by k
    (the train_bpe_merges bounded-collect pattern; k is thousands at
    most, and semantic_dedup's CC stage already executes eagerly), so
    this adds one tiny job, not a corpus collect. Preconditions
    (met by semantic_dedup's call site): ``norm`` has no NULL
    vectors, centroid vectors are unit-norm. NULL centroid rows (a
    hand-built or older stored centroid table) are skipped: no row can
    be assigned to them.
    """
    import pandas as pd

    rows = sorted(
        (r for r in centroids.collect() if r["centroid"] is not None),
        key=lambda r: r["centroid_id"],
    )
    id_t = norm.schema["_vid"].dataType.simpleString()
    cid_t = (
        centroids.schema["centroid_id"].dataType.simpleString()
        if rows
        else "int"
    )
    schema = (
        f"_vid {id_t}, {vcol} array<double>, "
        f"centroid_id {cid_t}, _csim double"
    )
    if not rows:
        # mirror _assign_cells over an empty centroid set: every row
        # keeps a NULL cell (downstream treats them as kept singletons)
        return norm.select(
            "_vid",
            F.col(vcol),
            F.lit(None).cast(cid_t).alias("centroid_id"),
            F.lit(None).cast("double").alias("_csim"),
        )
    cent_ids = [r["centroid_id"] for r in rows]
    cent_mat = [list(r["centroid"]) for r in rows]

    def _assign(it):
        import numpy as np

        ids_c = np.array(cent_ids)
        m = np.array(cent_mat, dtype=np.float64)
        for pdf in it:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vcol].to_list(), dtype=np.float64)
            sims = v @ m.T
            best = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {
                    "_vid": pdf["_vid"].to_numpy(),
                    vcol: pdf[vcol],
                    "centroid_id": ids_c[best],
                    "_csim": sims[np.arange(len(pdf)), best],
                }
            )

    return norm.select("_vid", vcol).mapInPandas(_assign, schema=schema)


def _cell_pairs_blas(
    assigned: DataFrame,
    threshold: float,
    max_cell_size: int | None,
) -> DataFrame:
    """``(id_a, id_b)`` within-cell cosine pairs at ``dot >= threshold``
    over unit vectors — the SemDeDup pair stage as one grouped Arrow
    pass: ``groupBy(centroid_id).applyInPandas`` hands each cell's
    id/vector block to NumPy, the Gram matrix is one float64 BLAS call
    per row-block, and only the surviving id pairs cross back to the
    JVM (the vectors never leave the Python worker).

    Input contract: ``assigned`` carries ``centroid_id`` (non-NULL —
    NULL-vector rows are filtered before assignment, and the 2-level
    path drops NULL fine cells), ``_vid`` (orderable id) and ``_v``
    (unit-normalized array<double>). Emits each unordered pair once
    (``id_a < id_b``); rows of a cell larger than ``max_cell_size``
    emit nothing (the degenerate-cluster valve — same excluded-cell
    semantics as the old windowed count, minus the window pass).

    Memory shape: one task holds one cell's vectors (n·dim doubles —
    the valve bounds n) and computes the Gram in 2048-row blocks, so
    the n² similarity matrix is never materialized whole; pair OUTPUT
    is bounded by the true duplicate volume plus threshold leakage,
    the same bound the join path had.
    """
    import pandas as pd

    id_t = assigned.schema["_vid"].dataType.simpleString()
    # NULL cells (empty centroid set, missing 2-level fine cells) take
    # no part in pairing — the old equi-join dropped them implicitly
    src = assigned.select("centroid_id", "_vid", "_v").filter(
        F.col("centroid_id").isNotNull()
    )
    thr = float(threshold)
    cap = None if max_cell_size is None else int(max_cell_size)

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        if n < 2 or (cap is not None and n > cap):
            return pd.DataFrame({"id_a": pdf["_vid"][:0], "id_b": pdf["_vid"][:0]})
        ids = pdf["_vid"].to_numpy()
        v = np.array(pdf["_v"].to_list(), dtype=np.float64)
        out_a: list = []
        out_b: list = []
        block = 2048
        for i0 in range(0, n, block):
            sims = v[i0 : i0 + block] @ v.T
            ii, jj = np.nonzero(sims >= thr)
            ga, gb = ids[ii + i0], ids[jj]
            m = ga < gb
            if m.any():
                out_a.append(ga[m])
                out_b.append(gb[m])
        if not out_a:
            return pd.DataFrame({"id_a": pdf["_vid"][:0], "id_b": pdf["_vid"][:0]})
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    return src.groupBy("centroid_id").applyInPandas(
        _pairs, schema=f"id_a {id_t}, id_b {id_t}"
    )


def semantic_dedup(
    vectors: DataFrame,
    n_centroids: int,
    threshold: float = 0.9,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep: str = "min_id",
    max_cell_size: int | None = None,
    centroids: DataFrame | None = None,
    coarse_centroids: DataFrame | None = None,
) -> DataFrame:
    """Cluster-bucketed semantic deduplication (the SemDeDup recipe:
    Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication", arXiv:2303.09540): spherical
    k-means partitions the corpus into cells, pairwise cosine runs
    ONLY within each cell, pairs at ``cos >= threshold`` form
    duplicate groups (connected components), and one representative
    per group is kept.

    Returns one row per input row: ``(id_col, sem_cluster_id, kept)``
    — ``sem_cluster_id`` is the minimum member id of the duplicate
    group (rows with no duplicate are their own group), ``kept`` the
    keep/drop decision. Filtering ``kept`` is the curation step; the
    full decision table is returned so audits can count drops per
    group.

    ``keep``:
    - ``"min_id"`` (default): smallest id per group — fully
      deterministic and replayable by an oracle engine;
    - ``"far_from_centroid"``: the member LEAST similar to its cell
      centroid (ties on smaller id) — the paper's diversity-keeping
      policy (it retains the group's most atypical example, which the
      paper measures as better for downstream training than random
      keeps).

    Scale shape (the reason this beats all-pairs near-dup for the
    diffuse thresholds LSH can't serve — see
    :func:`neardup_pairs_banded`'s docstring for why sign-LSH needs
    cos >= ~0.9): the corpus shuffles ONCE on its cell id; candidate
    volume is sum(cell^2) ~= n^2 / n_centroids, so operating at a
    fixed cell size means scaling ``n_centroids`` linearly with the
    corpus (the paper's regime) and the pair stage stays linear in n.
    Centroid training is broadcast-crossJoin + hash aggregation per
    Lloyd iteration (:func:`train_centroids` — deterministic
    hash-order seeding, no corpus shuffle); the component pass runs
    over the pair graph, orders of magnitude smaller than the corpus
    (:func:`~..operators.dedup.duplicate_clusters`).

    ``max_cell_size`` is the degenerate-cluster skew valve (same
    contract as ``max_docs_per_band`` on the banded LSH paths): a
    failed upstream embedding job emitting thousands of identical or
    constant vectors collapses them into ONE cell, whose pair stage
    is k^2/2 — cells above the cap are excluded from the pair join
    (their rows surface as kept singletons) and such a crowd is
    deliberately left to an exact-dedup pass, which catches identical
    vectors outright without pairwise work. Default None keeps exact
    SemDeDup semantics; production pipelines should set the
    recommended cap in `operators.valves.PRODUCTION_VALVES`.

    Pass ``centroids`` (``(centroid_id, centroid)``, unit-norm) to
    reuse a quantizer — e.g. the one persisted by
    :func:`write_ivf_index`, so dedup and ANN probe share one cell
    layout and the corpus's cell assignment is computed once.

    Pass ``coarse_centroids`` ALONGSIDE ``centroids`` for the
    two-level quantizer (``centroids`` is then the fine table
    ``(centroid_id, coarse_id, centroid)`` from
    :func:`train_centroids_2level`): assignment runs the hierarchical
    argmax of :func:`_assign_cells_2level` — O(√k + √k) dots per row
    instead of k, the operating point for the paper's regime once k
    scales past ~10³ with the corpus. Cell semantics downstream (pair
    stage, valve, keep policies) are identical; the fine centroid id
    IS the cell id.

    Rows whose vector is NULL take no part in clustering and are
    returned kept (their own group) — mirroring the banded path's
    malformed-row contract; zero vectors have cosine 0 to everything
    and fall out as kept singletons naturally.
    """
    if keep not in ("min_id", "far_from_centroid"):
        raise ValueError(f"unknown semantic_dedup keep policy {keep!r}")
    if coarse_centroids is not None and centroids is None:
        raise ValueError(
            "coarse_centroids requires centroids (the fine-level "
            "quantizer table from train_centroids_2level)"
        )
    ids_all = vectors.select(F.col(id_col).alias("_vid"))
    valid = vectors.filter(F.col(vec_col).isNotNull())
    norm = valid.select(
        F.col(id_col).alias("_vid"), l2_normalize(F.col(vec_col)).alias("_v")
    )
    if centroids is None:
        centroids = train_centroids(
            valid, n_centroids, n_iters=n_iters,
            vec_col=vec_col, id_col=id_col,
        )
    # map-side assignment keeps _v — no join-back shuffle. Flat path
    # (r14 opt round): NumPy argmax via _assign_cells_np, which also
    # emits _csim so the far_from_centroid policy needs no broadcast
    # join; the 2-level path keeps the hierarchical expression argmax.
    if coarse_centroids is not None:
        assigned = _assign_cells_2level(
            norm, "_v", coarse_centroids, centroids
        ).filter(F.col("centroid_id").isNotNull())
    else:
        assigned = _assign_cells_np(norm, "_v", centroids)
    # within-cell pair stage (r14 opt round, guide §2.3/§4.2): ONE
    # exchange of the corpus on its cell id + per-cell BLAS Gram
    # matrices, replacing the a⋈b self-join on centroid_id (which
    # shuffled the corpus WITH its vectors twice) and the per-pair
    # interpreted zip_with/aggregate dot (higher-order functions never
    # reach whole-stage codegen; measured 4.6 s for the 500k sf0.1
    # candidate dots vs ~0.3 s for the per-cell matmul). The
    # max_cell_size valve moves inside the pair emitter — len(cell) is
    # in hand there, so the windowed per-cell count pass is gone too;
    # an over-cap cell emits no pairs, and its rows surface as kept
    # singletons through the ids_all left join exactly as before
    # (excluded rows can never appear in `clusters`, so the
    # far_from_centroid rep join prunes their cent_sim rows unread).
    # Pair SET equality with the old expression path is pinned in
    # tests/test_semantic_dedup.py: float64 BLAS vs left-to-right
    # aggregate() drifts ~1e-15, orders of magnitude below every
    # registered threshold margin (planted pairs ≥ 0.997 vs corpus
    # cross-pairs ≤ 0.61 at thresholds 0.95–0.999 — measured per the
    # query docstrings).
    pairs = _cell_pairs_blas(assigned, threshold, max_cell_size)
    from .dedup import duplicate_clusters

    clusters = duplicate_clusters(pairs)  # (id, cluster_id), pair ids only
    if keep == "min_id":
        decisions = clusters.select(
            F.col("id").alias("_vid"),
            F.col("cluster_id").alias("sem_cluster_id"),
            (F.col("id") == F.col("cluster_id")).alias("kept"),
        )
    else:
        # similarity of each member to ITS cell centroid — the flat
        # path's NumPy assignment already carries it (_csim); only the
        # 2-level path still pays the broadcast join + interpreted dot
        if coarse_centroids is None:
            cent_sim = assigned.select(
                F.col("_vid").alias("id"), F.col("_csim")
            )
        else:
            cent_sim = (
                assigned.join(F.broadcast(centroids), "centroid_id")
                .select(
                    F.col("_vid").alias("id"),
                    dot(F.col("_v"), F.col("centroid")).alias("_csim"),
                )
            )
        reps = (
            clusters.join(cent_sim, "id")
            .groupBy("cluster_id")
            .agg(
                F.min_by(
                    F.col("id"), F.struct(F.col("_csim"), F.col("id"))
                ).alias("_rep")
            )
        )
        decisions = clusters.join(reps, "cluster_id").select(
            F.col("id").alias("_vid"),
            F.col("cluster_id").alias("sem_cluster_id"),
            (F.col("id") == F.col("_rep")).alias("kept"),
        )
    return (
        ids_all.join(decisions, "_vid", "left")
        .select(
            F.col("_vid").alias(id_col),
            F.coalesce("sem_cluster_id", F.col("_vid")).alias(
                "sem_cluster_id"
            ),
            F.coalesce("kept", F.lit(True)).alias("kept"),
        )
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def plane_signature(
    vec: Column, planes: list[list[float]]
) -> Column:
    """Sign-pattern bucket id over fixed hyperplanes (bigint)."""
    sig = F.lit(0).cast("bigint")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        bit = F.when(dot(vec, plane) >= 0, F.expr(f"CAST(1 AS BIGINT) << {i}")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = sig.bitwiseXOR(bit)
    return sig


def l2_normalize(vec: Column) -> Column:
    """vec / ||vec|| in double (zero vectors pass through unchanged).

    The sum of squares is folded once and handed to ``finish``:
    Catalyst does not eliminate common subexpressions into higher-order
    lambdas, so a norm referenced inside the ``transform`` lambda would
    be recomputed for every element (O(dim²) per row). Same values as
    ``x / l2_norm(vec)``: identical products, summed in the same order.
    """
    return F.aggregate(
        vec,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
        lambda ss: F.when(
            ss > 0, F.transform(vec, lambda x: x.cast("double") / F.sqrt(ss))
        ).otherwise(F.transform(vec, lambda x: x.cast("double"))),
    )


def train_centroids(
    vectors: DataFrame,
    n_centroids: int,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Spherical k-means coarse quantizer → (centroid_id, centroid).

    Deterministic throughout: seeds are the ``n_centroids`` corpus
    vectors with the smallest ``xxhash64(id)`` (hash-order sampling —
    no global sort of the corpus, and stable across runs/partitionings),
    assignment ties break on centroid id, and the mean is computed
    per-dimension with a hash aggregation. Each Lloyd iteration is one
    broadcast crossJoin (corpus × tiny centroid set) + two hash
    aggregations; the corpus is never shuffled by anything except in
    the final assignment's ``groupBy`` — and that is map-side partial.
    """
    # NULL vectors take no part in training: a NULL seed would become a
    # NULL centroid, and they never contribute to a mean
    norm = vectors.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_vid"), l2_normalize(F.col(vec_col)).alias("_v")
    )
    # top-K-by-hash compiles to per-partition top-K + a driver merge of
    # K rows PER PARTITION — so run it over the slim (id, hash)
    # projection only (16-byte rows, vectors never reach the driver)
    # and fetch the K winning VECTORS back with a broadcast join on the
    # seed ids. Zero scalar jobs (the old hash-range pre-filter cost
    # one or two full count()s per build) and bit-identical seeds: the
    # same K smallest (_h, _vid) keys win either way.
    seed_ids = (
        norm.select("_vid", F.xxhash64(F.col("_vid")).alias("_h"))
        .orderBy("_h", "_vid")
        .limit(n_centroids)
    )
    centroids = (
        F.broadcast(seed_ids)
        .join(norm, "_vid")
        .select(
            F.row_number()
            .over(Window.orderBy("_h", "_vid"))
            .alias("centroid_id"),
            F.col("_v").alias("centroid"),
        )
    )
    for _ in range(n_iters):
        # r14 opt round: the Lloyd-iteration argmax goes through the
        # NumPy assignment (see _assign_cells_np — the interpreted
        # transform/zip_with argmax was the training hot spot, and k
        # scales with the corpus in the SemDeDup regime). Assignment
        # OUTCOMES are unchanged (same argmax/tie rule; pinned against
        # _assign_cells in tests/test_semantic_dedup.py), so the mean
        # aggregate below — fp-identical machinery — yields the same
        # centroids.
        assigned = _assign_cells_np(norm, "_v", centroids)
        centroids = (
            assigned
            .select("centroid_id", F.posexplode("_v").alias("_pos", "_x"))
            .groupBy("centroid_id", "_pos")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_m"))
                    ),
                    lambda s: s["_m"],
                ).alias("centroid")
            )
        )
        # re-normalize so dot == cosine stays true next iteration
        centroids = centroids.select(
            "centroid_id", l2_normalize(F.col("centroid")).alias("centroid")
        )
    return centroids


def _assign_cells(
    norm: DataFrame, vcol: str, centroids: DataFrame
) -> DataFrame:
    """All input columns + ``centroid_id`` by max cosine on ``vcol``.

    Zero-shuffle plan (the :func:`cell_outliers` pattern): the centroid
    set folds to ONE broadcast array row, and the argmax is a map-side
    ``transform`` + ``array_max`` in whole-stage codegen — one output
    row per input row, no n×k row materialization, no ``groupBy`` on
    the row id. The previous form (crossJoin → n·k rows → hash-agg
    ``max_by``) shuffled n·k rows through the aggregate; with the
    SemDeDup operating regime scaling ``n_centroids`` WITH the corpus
    that stage was quadratic in rows moved — the factor-100 scalecheck
    measured it at 156× the base time before this rewrite.

    Because assignment is now a per-row projection, the input's other
    columns ride along for free — callers must NOT join the result
    back to the corpus on the row id (the old (_vid → centroid_id)
    contract forced that join, two shuffle legs + a sort per call
    site); carry whatever columns the downstream needs in ``norm``.

    Tie rule unchanged and shared with :func:`cell_outliers`: struct
    comparison on ``(sim, -centroid_id)`` picks max similarity, then
    the SMALLER centroid id. Rows whose vector is NULL keep a NULL
    ``centroid_id`` (same as the old all-NULL ``max_by``).
    """
    cents = centroids.agg(
        F.collect_list(
            F.struct(F.col("centroid_id"), F.col("centroid"))
        ).alias("_cents")
    )
    best = F.array_max(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                dot(F.col(vcol), c["centroid"]).alias("s"),
                (-c["centroid_id"]).alias("nid"),
            ),
        )
    )
    return (
        norm.crossJoin(F.broadcast(cents))
        .withColumn(
            "_best", F.when(F.col(vcol).isNotNull(), best)
        )
        .withColumn("centroid_id", -F.col("_best.nid"))
        .drop("_cents", "_best")
    )


def _assign_cells_2level(
    norm: DataFrame, vcol: str, coarse: DataFrame, fine: DataFrame
) -> DataFrame:
    """All input columns + ``centroid_id`` via a TWO-LEVEL argmax:
    coarse argmax over ``coarse`` (``(centroid_id, centroid)``), then
    fine argmax over only the winning coarse cell's fine centroids
    (``fine``: ``(centroid_id, coarse_id, centroid)``; fine centroid
    ids are the global cell ids).

    This is the inverted-multi-index / hierarchical-quantizer shape
    (Babenko & Lempitsky, "The Inverted Multi-Index", CVPR 2012; the
    same two-level coarse quantizer FAISS uses for billion-scale IVF):
    flat assignment against k cells is O(n·k) dot products, and the
    SemDeDup operating regime scales k WITH the corpus, so flat
    assignment is quadratic in FLOPs even after the broadcast-argmax
    rewrite killed the shuffle. Two balanced levels cost
    O(n·(√k + √k)) — at k = 1600 that is 80 dots/row instead of 1600.

    Plan shape: still ZERO corpus shuffles. Level 1 is
    :func:`_assign_cells` (1-row broadcast fold + map-side argmax);
    level 2 groups the fine table into one array<struct> row PER
    coarse cell (a tiny shuffle of k fine centroids, never the
    corpus), broadcast-hash-joins it on the coarse id, and runs the
    same transform/array_max argmax over the ~√k-element array.

    Tie rule at both levels: max similarity, then smaller centroid id
    (the engine's one assignment rule). NULL vectors keep a NULL
    ``centroid_id``; rows whose coarse cell has NO fine centroids
    (possible only with hand-built fine tables — training seeds every
    non-empty cell) also get NULL, the same kept-singleton contract.
    """
    c1 = _assign_cells(norm, vcol, coarse).withColumnRenamed(
        "centroid_id", "_coarse_id"
    )
    fine_arr = fine.groupBy(F.col("coarse_id").alias("_coarse_id")).agg(
        F.collect_list(
            F.struct(F.col("centroid_id"), F.col("centroid"))
        ).alias("_fc")
    )
    best = F.array_max(
        F.transform(
            F.col("_fc"),
            lambda c: F.struct(
                dot(F.col(vcol), c["centroid"]).alias("s"),
                (-c["centroid_id"]).alias("nid"),
            ),
        )
    )
    return (
        c1.join(F.broadcast(fine_arr), "_coarse_id", "left")
        .withColumn(
            "_best",
            F.when(
                F.col(vcol).isNotNull() & F.col("_fc").isNotNull(), best
            ),
        )
        .withColumn("centroid_id", -F.col("_best.nid"))
        .drop("_fc", "_best", "_coarse_id")
    )


def train_centroids_2level(
    vectors: DataFrame,
    n_coarse: int,
    n_fine: int,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Hierarchical spherical k-means → ``(coarse, fine)`` quantizer
    tables for :func:`_assign_cells_2level` /
    :func:`semantic_dedup` (``coarse_centroids=``).

    ``coarse`` is :func:`train_centroids`'s output
    (``(centroid_id, centroid)``, ids 1..n_coarse). ``fine`` is
    ``(centroid_id, coarse_id, centroid)`` with the GLOBAL cell id
    ``centroid_id = (coarse_id-1)·n_fine + j`` (j = 1..n_fine within
    the cell) — arithmetic both engines and the Lloyd loop can invert
    (``coarse_id = (centroid_id-1) div n_fine + 1``), so the fine
    update never joins back to a lookup table.

    Determinism matches :func:`train_centroids`: fine seeds are each
    coarse cell's ``n_fine`` members with the smallest
    ``xxhash64(id)`` (per-cell hash-order window — the ONE corpus
    shuffle in the build, at train time only), assignment ties break
    on centroid id, means are per-dimension hash aggregations,
    centroids re-normalize every iteration. Cells with fewer than
    ``n_fine`` members seed fewer fine centroids; a fine centroid
    whose cell assigns it no rows in an iteration drops out (standard
    Lloyd behavior, same as the flat trainer).

    Scale shape: per Lloyd iteration the corpus does ZERO shuffles for
    assignment (two broadcast argmaxes) and one posexplode hash
    aggregation for the mean — identical stage structure to the flat
    trainer, but each row computes √k + √k dots instead of k.
    """
    coarse = train_centroids(vectors, n_coarse, n_iters, vec_col, id_col)
    norm = vectors.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_vid"),
        l2_normalize(F.col(vec_col)).alias("_v"),
    )
    assigned = _assign_cells(norm, "_v", coarse).withColumnRenamed(
        "centroid_id", "_cid"
    )
    w = Window.partitionBy("_cid").orderBy("_h", "_vid")
    fine = (
        assigned.withColumn("_h", F.xxhash64(F.col("_vid")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_fine)
        .select(
            (
                (F.col("_cid") - 1) * F.lit(n_fine) + F.col("_rn")
            ).alias("centroid_id"),
            F.col("_cid").alias("coarse_id"),
            F.col("_v").alias("centroid"),
        )
    )
    for _ in range(n_iters):
        a2 = _assign_cells_2level(norm, "_v", coarse, fine)
        fine = (
            a2.filter(F.col("centroid_id").isNotNull())
            .select(
                "centroid_id", F.posexplode("_v").alias("_pos", "_x")
            )
            .groupBy("centroid_id", "_pos")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_m"))
                    ),
                    lambda s: s["_m"],
                ).alias("centroid")
            )
            .select(
                "centroid_id",
                (
                    F.floor((F.col("centroid_id") - 1) / F.lit(n_fine))
                    + 1
                )
                .cast("int")
                .alias("coarse_id"),
                l2_normalize(F.col("centroid")).alias("centroid"),
            )
        )
    return coarse, fine


def _require_numeric_id(df: DataFrame, col: str, what: str) -> None:
    """The module's one assignment rule implements smaller-id tiebreaks
    by NEGATING the id inside an argmax struct — which only type-checks
    for numeric ids. Fail loudly up front instead of letting Spark
    raise an AnalysisException deep inside the plan."""
    from pyspark.sql.types import NumericType

    dtype = df.schema[col].dataType
    if not isinstance(dtype, NumericType):
        raise ValueError(
            f"{what} id column {col!r} must be numeric (the smaller-id "
            f"tiebreak negates it inside an argmax struct), got "
            f"{dtype.simpleString()}"
        )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bench_vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    max_benchmark_rows: int = 100_000,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic twin
    of `dedup.benchmark_contamination` (which catches verbatim n-gram
    overlap; this catches PARAPHRASED leakage the n-gram probe cannot
    see): flag every corpus row whose max cosine against ANY benchmark
    vector reaches ``threshold``. Returns every corpus row:
    ``(id_col, benchmark_id, max_benchmark_sim, contaminated)`` with
    the similarity rounded to 6 (the module's cross-engine float
    discipline) and ``benchmark_id`` = the argmax benchmark row (ties
    to the smaller id — the engine's one assignment rule).

    Scale shape: identical to `cell_outliers` — benchmarks are
    MB-scale against a TB-scale corpus, so the benchmark set folds to
    ONE broadcast array<struct> row and the max-similarity is a pure
    map-side transform/array_max; the corpus plan is scan → project,
    zero shuffles, whole-stage codegen end to end.

    NULL (and all-zero) corpus vectors get NULL sim/benchmark_id and
    ``contaminated = false``: an unscorable row is not evidence of
    leakage — it is a QUALITY problem, which is `cell_outliers`'s job
    to flag; a decontamination pass must not silently drop it.

    ``bench_id_col`` must be NUMERIC (the smaller-id tiebreak negates
    it inside the argmax struct — the module's one assignment rule);
    a non-numeric id raises up front. The benchmark fold is guarded by
    ``max_benchmark_rows`` (one bounded count): past it the single
    broadcast array row this plan builds turns pathological (100k
    64-dim rows ≈ 50 MB already), so the operator raises and points at
    `semantic_decontaminate_index` — the index-backed form for large
    benchmark sets.
    """
    _require_numeric_id(benchmark, bench_id_col, "benchmark")
    # limit(bound+1) keeps the guard itself bounded: a full count()
    # would scan the entire pathological benchmark the guard exists to
    # reject — the answer needed is only "over the bound or not"
    n_bench = benchmark.limit(max_benchmark_rows + 1).count()
    if n_bench > max_benchmark_rows:
        raise ValueError(
            f"benchmark exceeds max_benchmark_rows="
            f"{max_benchmark_rows}: the broadcast-fold plan would build "
            f"one pathological array row; probe the corpus's persisted "
            f"IVF index with semantic_decontaminate_index instead "
            f"(or raise the bound explicitly)"
        )
    bench = benchmark.agg(
        F.collect_list(
            F.struct(
                F.col(bench_id_col).alias("bid"),
                F.col(bench_vec_col).alias("bvec"),
            )
        ).alias("_bench")
    )
    best = F.array_max(
        F.transform(
            F.col("_bench"),
            lambda b: F.struct(
                cosine(F.col(vec_col), b["bvec"]).alias("s"),
                (-b["bid"]).alias("nid"),
            ),
        )
    )
    sim = F.round(F.col("_best.s"), 6)
    return (
        corpus.crossJoin(F.broadcast(bench))
        # the same zero-norm guard as cell_outliers: 0/0 cosines are
        # NULL against every benchmark and must not fall through to
        # the id tiebreak
        .withColumn(
            "_best",
            F.when(
                F.col(vec_col).isNotNull()
                & (F.sqrt(dot(F.col(vec_col), F.col(vec_col))) > 0),
                best,
            ),
        )
        .select(
            F.col(id_col),
            (-F.col("_best.nid")).alias("benchmark_id"),
            sim.alias("max_benchmark_sim"),
            F.coalesce(sim >= F.lit(threshold), F.lit(False)).alias(
                "contaminated"
            ),
        )
    )


def cell_outliers(
    vectors: DataFrame,
    centroids: DataFrame,
    min_sim: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Prototype-distance outlier flagging: assign each vector to its
    most-similar centroid (cosine argmax, ties on smaller centroid id
    — the engine's one assignment rule) and flag rows whose similarity
    to their OWN cell prototype falls below ``min_sim`` — the
    embedding-space quality gate of the SemDeDup/DataComp family
    (SSL-prototype filtering: a row far from every prototype is noise,
    OCR garbage, or an upstream-embedding failure, not a novel
    cluster; the text-side logit/repetition filters cannot see it).

    Returns every input row: ``(id_col, centroid_id, centroid_sim,
    is_outlier)`` with ``centroid_sim`` rounded to 6 (the module's
    cross-engine float discipline). Rows with NULL vectors — and
    all-zero vectors, whose cosine is 0/0 to every prototype — are
    flagged outliers with a NULL cell: they cannot be scored, and a
    quality gate that silently keeps unscorable rows is how corrupt
    batches sneak into a corpus.

    Scale shape: ZERO shuffles of the corpus. The centroid set folds
    to a single array<struct> row (one tiny agg over the prototype
    set), broadcast-crossJoins onto every corpus partition, and the
    argmax is a pure map-side ``transform`` + ``array_max`` over that
    array — no groupBy on the row id, no join-back for the NULL rows
    (they are flagged inline). The corpus plan is scan → project,
    whole-stage-codegen end to end. Cosine (not dot) is used so
    callers can pass raw un-normalized prototypes, e.g. rows sampled
    straight from the corpus.
    """
    cents = centroids.agg(
        F.collect_list(
            F.struct(F.col("centroid_id"), F.col("centroid"))
        ).alias("_cents")
    )
    # struct comparison is field-by-field, so max on (sim, -id) is
    # argmax-cosine with ties to the SMALLER centroid id — the
    # engine's one assignment rule (_assign_cells uses the same key)
    best = F.array_max(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                cosine(F.col(vec_col), c["centroid"]).alias("s"),
                (-c["centroid_id"]).alias("nid"),
            ),
        )
    )
    return (
        vectors.crossJoin(F.broadcast(cents))
        # zero vectors score 0/0 = NULL cosine against EVERY centroid;
        # without the norm guard array_max would fall through to the
        # nid tiebreak and report a meaningless non-NULL centroid_id
        # with NULL sim. Route them through the same NULL-cell outlier
        # branch as NULL vectors — they are equally unscorable.
        .withColumn(
            "_best",
            F.when(
                F.col(vec_col).isNotNull()
                & (l2_norm(F.col(vec_col)) > 0),
                best,
            ),
        )
        .select(
            id_col,
            (-F.col("_best.nid")).alias("centroid_id"),
            F.round("_best.s", 6).alias("centroid_sim"),
            F.coalesce(
                F.col("_best.s") < F.lit(float(min_sim)), F.lit(True)
            ).alias("is_outlier"),
        )
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 2,
    k: int = 5,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_fine: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: build the coarse quantizer, assign every
    corpus vector to its cell, then score each query only against the
    cells of its ``nprobe`` nearest centroids. Output schema matches
    ``brute_force_topk`` so recall is directly comparable.

    ``n_fine`` switches the build to the two-level quantizer
    (``n_centroids`` coarse × ``n_fine`` fine cells, corpus assignment
    via the hierarchical argmax — see `write_ivf_index`); the probe
    side scores queries flat over the fine centroids either way, so a
    probe over the same cells is identical regardless of how the
    corpus was assigned to them.
    """
    norm = vectors.withColumnRenamed(id_col, "_vid").withColumn(
        "_v", l2_normalize(F.col(vec_col))
    )
    # tiny (n_centroids rows) but referenced twice (index assignment +
    # query probing) — persist so the Lloyd-iteration lineage runs once
    if n_fine is not None:
        coarse, centroids = train_centroids_2level(
            vectors, n_centroids, n_fine, n_iters, vec_col, id_col
        )
        coarse = coarse.persist()
        centroids = centroids.persist()
        # map-side two-stage assignment — original columns ride along
        index = _assign_cells_2level(norm, "_v", coarse, centroids).drop(
            "_v"
        )
    else:
        centroids = train_centroids(
            vectors, n_centroids, n_iters, vec_col, id_col
        ).persist()
        # map-side assignment carries the original columns — no join-back
        index = _assign_cells(norm, "_v", centroids).drop("_v")
    qn = queries.withColumn("_qv", l2_normalize(F.col("query_vec")))
    qscored = qn.crossJoin(F.broadcast(centroids)).withColumn(
        "_sim", dot(F.col("_qv"), F.col("centroid"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        qscored.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "query_vec", "centroid_id")
    )
    # narrow projection before the ranking window (r13 opt round,
    # guide §2.3): the exchange needs (query_id, _vid, cosine), never
    # the two dense vectors that computed the score
    cands = probes.join(index, "centroid_id").select(
        "query_id",
        "_vid",
        cosine(F.col("query_vec"), F.col(vec_col)).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("_vid").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("_vid").alias("match_id"),
            "rank",
            F.round("cosine", 6).alias("cosine_sim"),
        )
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    multi_probe: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's
    hyperplane bucket. The shuffle key is the bucket signature, never
    the cross product.

    ``multi_probe=True`` additionally probes every 1-bit-flip neighbor
    bucket of the query's signature (the planes the vector is closest
    to crossing are exactly one bit away) — recall rises sharply for
    (n_planes + 1)× the candidate volume, with the CORPUS side
    untouched: only the tiny query side explodes, the join stays a
    bucket-key equi-join.

    ``max_bucket_size`` is the degenerate-cluster skew valve: a failed
    upstream embedding job emitting thousands of identical/constant
    vectors lands them all in ONE corpus bucket, and every query
    probing it then scores the whole crowd — per-bucket join cost
    |bucket| × |queries in bucket|, the quadratic shape bucketing
    exists to prevent. The valve keeps only the ``max_bucket_size``
    smallest-id corpus rows per bucket (a row_number on the same
    bucket key the join shuffles by — no extra corpus exchange).
    Dropping by id-order is recall-exact for the degenerate case that
    motivates it: an identical-vector crowd ties on cosine, the final
    tiebreak is id ASC, so the survivors are precisely the rows exact
    top-k would have returned (for any k ≤ max_bucket_size); for
    merely-crowded non-identical buckets it is approximate, like
    every other knob here. Default None = no cap (the pinned-recall
    configuration); production pipelines should set the recommended
    cap in `operators.valves.PRODUCTION_VALVES`.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    v = vectors.withColumn("bucket", plane_signature(F.col(vec_col), planes))
    if max_bucket_size is not None:
        wb = Window.partitionBy("bucket").orderBy(F.col(id_col).asc())
        v = (
            v.withColumn("_bn", F.row_number().over(wb))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    q = queries.withColumn("bucket", plane_signature(F.col("query_vec"), planes))
    if multi_probe:
        # JVM-side shift, not F.lit(1 << i): at i=63 the Python int
        # 2**63 exceeds LongType and the literal overflows — shiftleft
        # matches plane_signature's own CAST(1 AS BIGINT) << i masks,
        # so n_planes=64 probes the sign bit correctly
        neighbors = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(
                    F.shiftleft(F.lit(1).cast("bigint"), i)
                )
                for i in range(n_planes)
            ],
        )
        q = q.withColumn("bucket", F.explode(neighbors))
    # no dedup needed after the probe explode: the probed buckets
    # {b, b^1, b^2, ...} are pairwise distinct and every corpus vector
    # has exactly ONE bucket, so a (query, vector) pair can match
    # through at most one probed bucket
    # narrow projection before the ranking window (r13 opt round,
    # guide §2.3: ids + score only through the exchange)
    joined = q.join(v, "bucket", "inner").select(
        "query_id",
        F.col(id_col),
        cosine(F.col("query_vec"), F.col(vec_col)).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("match_id"),
            "rank",
            F.round("cosine", 6).alias("cosine_sim"),
        )
    )


def quantize_embeddings_int8(
    vectors: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Scalar int8 quantization per vector: ``q_i = floor(x_i * 127 /
    max|x|)`` plus the ``scale`` needed to dequantize — the 4×
    compression an embedding store applies before ANN search at scale
    (IVF distance scans then read 1 byte/dim; rerank dequantizes the
    shortlist).

    Floor (not round-half-up) keeps the transform bit-exact across
    engines: multiply, divide, and floor are all IEEE-exact
    operations, so an oracle replaying the expression matches
    integer-for-integer. Max error vs the float input is one LSB
    (max|x|/127) instead of half — irrelevant at ANN recall levels.
    Pure array transforms inside codegen: no UDF, no shuffle.
    The ONE quantization expression (`_quantize_cols`) is shared with
    the int8 IVF cell storage, which merely narrows the output cast
    to tinyint — there is no second copy to drift.
    """
    q, scale = _quantize_cols(vec_col, "int")
    return vectors.select(F.col(id_col), q.alias("q"), scale)


# ---------------------------------------------------------------------------
# Persisted IVF index: partition-pruned ANN probes over object storage
# ---------------------------------------------------------------------------

#: parameter contract marker for a persisted IVF index (same rationale
#: as dedup.INDEX_META_FILE: the quantizer is (n_centroids,
#: n_iters)-sensitive, so the parameters travel with the data)
IVF_META_FILE = "_ivf_index.json"


def _quantize_cols(vec_col: str, int_type: str) -> tuple[Column, Column]:
    """``(q, scale)`` for scalar int8 quantization — the ONE
    expression tree behind both `quantize_embeddings_int8` (``"int"``,
    the public DuckDB-oracled op) and the IVF ``cell_storage="int8"``
    tier (``"tinyint"`` — so a 64-dim float64 vector's 512 cell bytes
    become 64+8). Build and append must share it so a replayed fold
    lands bit-identical bytes; the two casts are the only divergence
    allowed, and both are value-preserving on [-128, 127]."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    maxabs = F.array_max(F.transform(x, F.abs))
    # q folds max|v| once and scales in ``finish`` (as in l2_normalize:
    # ``maxabs`` inside the per-element lambda would be recomputed per
    # element). ``greatest`` skips NULLs and orders NaN highest, exactly
    # like ``array_max``, so q and scale see the same maximum.
    q = F.aggregate(
        x,
        F.lit(None).cast("double"),
        lambda acc, v: F.greatest(acc, F.abs(v)),
        lambda m: F.when(
            m == 0, F.transform(x, lambda v: F.lit(0).cast(int_type))
        ).otherwise(
            F.transform(
                x,
                lambda v: F.floor((v * F.lit(127.0)) / m).cast(int_type),
            )
        ),
    )
    return q, (maxabs / F.lit(127.0)).alias("scale")


def _cells_projection(
    assigned: DataFrame,
    cell_storage: str,
    vec_col: str,
    id_col: str,
    pq: tuple[DataFrame, int, int] | None = None,
) -> DataFrame:
    """The stored cell row for one assigned corpus row — shared by the
    build and the append fold so both storages land identical schemas:
    ``(id, vec, centroid_id)`` raw, ``(id, q, scale, centroid_id)``
    int8, ``(id, codes, centroid_id)`` pq (``pq`` carries the trained
    ``(_pq_codebook_row, pq_m, dsub)`` — encode shares one expression
    tree with the build so a replayed fold lands bit-identical
    codes)."""
    if cell_storage == "int8":
        q, scale = _quantize_cols(vec_col, "tinyint")
        return assigned.select(
            F.col("_vid").alias(id_col), q.alias("q"), scale, "centroid_id"
        )
    if cell_storage == "pq":
        cb_row, pq_m, dsub = pq
        # assigned carries `_v` (the normalized vector) from the
        # argmax — encode slices it directly, no re-normalize
        return (
            assigned.crossJoin(F.broadcast(cb_row))
            .select(
                F.col("_vid").alias(id_col),
                _pq_codes("_v", pq_m, dsub).alias("codes"),
                "centroid_id",
            )
        )
    return assigned.select(
        F.col("_vid").alias(id_col), F.col(vec_col), "centroid_id"
    )


def _dequantized_vec() -> Column:
    """``q × scale`` back to ``array<double>`` — the probe-side
    reconstruction for int8 cells (error ≤ 1 LSB = max|x|/127 per
    dim; direction preserved, so cosine ranking degrades only at
    near-ties)."""
    return F.transform(
        F.col("q"), lambda v: v.cast("double") * F.col("scale")
    )


def _pq_dist2(sub: Column, cw: Column) -> Column:
    """Squared L2 between two equal-length arrays — PQ's training and
    encoding metric (subvectors are NOT unit-norm, so cosine is the
    wrong objective below the full-vector level)."""
    return F.aggregate(
        F.zip_with(sub, cw, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def train_pq_codebooks(
    vectors: DataFrame,
    pq_m: int,
    pq_k: int = 256,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization codebooks → ``(subspace_id, code_id,
    codeword)`` — ``pq_m`` independent L2 k-means problems, one per
    contiguous ``dim/pq_m`` slice of the L2-NORMALIZED vector (PQ
    approximates the unit vector; the full-vector cosine is then the
    sum of per-subspace dots against reconstructed codewords — Jégou,
    Douze & Schmid, "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011; the same m×256 layout FAISS's IVFPQ uses).

    Deterministic like `train_centroids`: seeds are the ``pq_k``
    corpus rows with the smallest ``xxhash64(id)`` (each contributes
    one seed subvector to EVERY subspace), assignment ties break on
    code id, means are hash aggregations. All ``pq_m`` subproblems
    train in ONE set of jobs over the exploded ``(subspace_id,
    subvec)`` rows — corpus×m rows per pass, never a per-subspace
    driver loop. Code ids are re-densified to 0..n-1 per subspace
    after training (L2 k-means clusters can die), so storage can be a
    positional tinyint.

    The vector dimension must be divisible by ``pq_m`` (one bounded
    driver read validates it); ``pq_k`` ≤ 256 so codes fit a stored
    tinyint.

    NULL vectors — a supported corpus state everywhere in this module
    (the kept-singleton contract) — are EXCLUDED from training: a NULL
    seed would yield a NULL codeword, and this path's argmin convention
    (``array_min`` over ``struct(dist, code_id)``) ranks a NULL-distance
    struct FIRST, so one NULL seed would silently collapse every
    subspace to a single codeword and all reconstructions would tie.
    (`train_centroids` tolerates the same exposure only because its
    argMAX never selects a NULL-sim struct — the conventions invert.)
    Storage/assignment of NULL rows is unaffected: they are handled by
    the index writers, not here."""
    if pq_k > 256:
        raise ValueError(f"pq_k must be <= 256 (tinyint codes): {pq_k}")
    first = (
        vectors.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("_d"))
        .limit(1)
        .collect()
    )
    if not first:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    dim = first[0]["_d"]
    if dim is None or dim % pq_m != 0:
        raise ValueError(
            f"vector dim {dim} is not divisible by pq_m={pq_m}"
        )
    dsub = dim // pq_m
    norm = vectors.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_vid"),
        l2_normalize(F.col(vec_col)).alias("_v"),
    )
    subs = norm.select(
        "_vid",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(pq_m - 1)),
                lambda j: F.slice(F.col("_v"), j * dsub + 1, dsub),
            )
        ).alias("subspace_id", "_sv"),
    )
    seed_ids = (
        norm.select("_vid", F.xxhash64(F.col("_vid")).alias("_h"))
        .orderBy("_h", "_vid")
        .limit(pq_k)
    )
    books = (
        F.broadcast(seed_ids)
        .join(subs, "_vid")
        .select(
            "subspace_id",
            (
                F.row_number().over(
                    Window.partitionBy("subspace_id").orderBy("_h", "_vid")
                )
                - 1
            ).alias("code_id"),
            F.col("_sv").alias("codeword"),
        )
    )

    def _grouped(cb: DataFrame) -> DataFrame:
        # per-subspace struct arrays, sorted by code id — the tiny
        # (pq_m rows) broadcast side of the assignment join
        return cb.groupBy("subspace_id").agg(
            F.array_sort(
                F.collect_list(F.struct("code_id", "codeword"))
            ).alias("_cws")
        )

    for _ in range(n_iters):
        best = F.array_min(
            F.transform(
                F.col("_cws"),
                lambda c: F.struct(
                    _pq_dist2(F.col("_sv"), c["codeword"]).alias("d"),
                    c["code_id"].alias("cid"),
                ),
            )
        )
        assigned = (
            subs.join(F.broadcast(_grouped(books)), "subspace_id")
            .withColumn("code_id", best["cid"])
            .select("subspace_id", "code_id", "_sv")
        )
        books = (
            assigned.select(
                "subspace_id", "code_id", F.posexplode("_sv").alias("_pos", "_x")
            )
            .groupBy("subspace_id", "code_id", "_pos")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("subspace_id", "code_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
                    lambda s: s["_m"],
                ).alias("codeword")
            )
        )
    # densify: dead clusters leave id gaps; positional storage needs
    # 0..n-1 per subspace (ordering by old id keeps determinism)
    return books.select(
        "subspace_id",
        (
            F.row_number().over(
                Window.partitionBy("subspace_id").orderBy("code_id")
            )
            - 1
        ).alias("code_id"),
        "codeword",
    )


def _pq_codebook_row(codebooks: DataFrame) -> DataFrame:
    """The whole codebook as ONE broadcastable row: ``_cb`` =
    array (by subspace) of array (by code id) of codeword — pq_m ×
    pq_k × dsub doubles (8×256×8 ≈ 128 KB at 64 dims), the in-plan
    lookup table for encode and reconstruction."""
    return codebooks.groupBy("subspace_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("code_id", "codeword"))),
            lambda s: s["codeword"],
        ).alias("_sub")
    ).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("subspace_id", "_sub"))),
            lambda s: s["_sub"],
        ).alias("_cb")
    )


def _pq_codes(norm_col: str, pq_m: int, dsub: int) -> Column:
    """Stored PQ codes for one row: per subspace, the argmin-L2 code
    of the ALREADY-NORMALIZED vector column's slice against ``_cb``
    (joined in by the caller), offset by −128 into a tinyint (codes
    are 0..255). Takes the normalized column (callers hold ``_v``
    from assignment) and slices it ONCE per subspace in an outer
    transform: nested-lambda HOF trees evaluate interpreted, so an
    expression that re-normalized or re-sliced inside the
    per-codeword lambda pays dim×pq_k redundant array ops per row —
    measured at ~100 s for a 500-row encode before this hoisting,
    ~1 s after. NULL vectors encode to NULL — the kept-singleton
    contract everywhere else."""
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(pq_m - 1)),
        lambda j: F.slice(F.col(norm_col), j * dsub + 1, dsub),
    )
    return F.when(
        F.col(norm_col).isNotNull(),
        F.transform(
            subs,
            lambda sv, j: (
                F.array_min(
                    F.transform(
                        F.element_at(F.col("_cb"), j + 1),
                        lambda cw, i: F.struct(
                            _pq_dist2(sv, cw).alias("d"),
                            i.alias("cid"),
                        ),
                    )
                )["cid"]
                - F.lit(128)
            ).cast("tinyint"),
        ),
    )


def _pq_reconstructed_vec() -> Column:
    """Codes → approximate unit vector: concatenate each subspace's
    codeword (positional lookup — ids are dense by construction).
    Needs ``_cb`` (from `_pq_codebook_row`) and ``codes`` in scope;
    no static pq_m/dsub — the codes array drives the shape."""
    return F.flatten(
        F.transform(
            F.col("codes"),
            lambda c, j: F.element_at(
                F.element_at(F.col("_cb"), j + 1),
                (c.cast("int") + F.lit(129)),
            ),
        )
    )


def _ivf_tombstone_ids(spark, data_root: str, id_col: str) -> DataFrame | None:
    """Ids deleted from this index version (`delete_from_ivf_index`)
    that every reader must exclude, or None when no complete tombstone
    batch exists — the shared `tombstones.read_tombstone_ids`
    completeness rule (only MARKED batch dirs; a torn delete is
    invisible until its same-token replay completes)."""
    from .tombstones import read_tombstone_ids

    return read_tombstone_ids(spark, data_root, id_col)


def _decoded_cells(spark, cells: DataFrame, meta: dict, data_root: str) -> DataFrame:
    """Cells with the vector column restored for scoring, whatever the
    storage tier — the ONE reconstruction seam shared by the probe
    path and the streaming semantic ingest: raw passes through, int8
    dequantizes in-plan (``q × scale``), pq joins the broadcast
    codebook row and concatenates codewords. Approximation error is
    the tier's documented trade (int8 ≤ 1 LSB/dim; pq = per-subspace
    k-means residual) — exactness callers add the raw-vector
    ``rerank``.

    Tombstoned rows (`delete_from_ivf_index`) are excluded HERE, so
    every reader of the cells — search probes, decontamination range
    probes, kNN eval, the streaming semantic ingest's dedup-vs-index
    stage — sees deletes through one seam: a deleted row can neither
    be returned as a match nor absorb a new near-duplicate. The
    anti-join side is the tombstone set (deletes since the last
    compaction — small by operational contract), deliberately
    un-hinted so AQE broadcasts it while it is small and degrades
    gracefully if an operator lets it grow."""
    import posixpath as _pp

    tombs = _ivf_tombstone_ids(spark, data_root, meta["id_col"])
    if tombs is not None:
        cells = cells.join(tombs, meta["id_col"], "left_anti")
    vec_col = meta["vec_col"]
    if meta["cell_storage"] == "int8":
        return cells.withColumn(vec_col, _dequantized_vec()).drop(
            "q", "scale"
        )
    if meta["cell_storage"] == "pq":
        cb = _pq_codebook_row(spark.read.parquet(_pp.join(data_root, "pq")))
        return (
            cells.crossJoin(F.broadcast(cb))
            .withColumn(vec_col, _pq_reconstructed_vec())
            .drop("codes", "_cb")
        )
    return cells


def _load_quantizer(
    spark, data_root: str, n_fine: int | None
) -> tuple[DataFrame | None, DataFrame]:
    """``(coarse, fine)`` assignment tables from a RESOLVED index data
    root — the one loader behind `read_ivf_quantizer`, the append fold
    and the streaming semantic ingest, so the layout contract
    (``centroids/`` = fine table, ``coarse/`` beside it iff 2-level)
    lives in exactly one place. Callers that already hold
    ``(meta, data_root)`` from `_resolve_ivf_index` use this directly
    and keep their one-resolve-per-operation property."""
    import posixpath as _pp

    fine = spark.read.parquet(_pp.join(data_root, "centroids"))
    if n_fine is None:
        return None, fine
    return spark.read.parquet(_pp.join(data_root, "coarse")), fine


def write_ivf_index(
    vectors: DataFrame,
    path: str,
    n_centroids: int = 16,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_fine: int | None = None,
    cell_storage: str = "raw",
    pq_m: int = 8,
    pq_k: int = 256,
    train_fraction: float | None = None,
) -> None:
    """Persist the IVF index: ``centroids/`` (tiny, broadcast at probe
    time) and ``cells/`` — the corpus laid out as ``centroid_id=N``
    hive partitions.

    ``train_fraction`` trains the quantizer (and PQ codebooks) on a
    deterministic id-hash sample of the corpus instead of all of it —
    the 100 TB operating point: every Lloyd iteration is a full pass
    over its training set, and k-means converges on a representative
    sample (FAISS trains IVF quantizers on ~30–256 vectors per
    centroid, not the corpus); ASSIGNMENT always covers the full
    corpus, so the layout indexes every row regardless. The sample is
    ``xxhash64(id) % 10_000 < fraction·10_000`` — reproducible across
    runs/partitionings, unlike ``DataFrame.sample``, so rebuilds stay
    deterministic. Default None keeps exact parity with pre-r9 builds
    (train = full corpus).

    ``cell_storage="pq"`` stores each cell vector product-quantized
    (`train_pq_codebooks`: ``pq_m`` sub-codebooks of ``pq_k``
    codewords over the normalized vector) as ``pq_m`` tinyint codes:
    a 64-dim float64 row's 512 vector bytes become 8 — the IVFPQ
    layout FAISS runs at billion scale, one more decade of scan-bytes
    reduction past int8's ~7× (and, like int8, a BYTES claim: probes
    reconstruct in-plan and rank on the approximation, so exactness
    callers add the raw-vector ``rerank`` — the two-stage ADC
    pipeline, whose shortlist the quantization error must fit inside;
    widen ``rerank_factor`` for tight corpora). Codebooks persist
    under ``pq/`` beside the centroids and travel through compaction
    and rebuilds like the quantizer; appends encode with the SAME
    expression tree, so replayed folds land bit-identical codes.

    ``cell_storage="int8"`` stores each cell vector scalar-quantized
    (`quantize_embeddings_int8`'s exact floor transform, narrowed to
    ``array<tinyint>`` + one double ``scale``) instead of raw: a
    64-dim float64 row's 512 vector bytes become 72, so a probe scans
    ~7× fewer corpus bytes — and on object storage the probed cells'
    SCAN is the dominant ANN cost, which partition pruning already
    cut to nprobe/k of the corpus and this cuts again within the
    probed cells. Probes dequantize in-plan (``q × scale``, codegen)
    and rank by cosine over the reconstruction; error is ≤ 1 LSB
    (max|x|/127) per dim, so ranking moves only at near-ties —
    `tests/test_ivf_index.py::TestInt8IvfIndex` pins recall and the
    on-disk byte ratio. Appends quantize with the SAME expression
    tree (a replayed fold lands bit-identical bytes); compaction and
    vacuum are storage-agnostic. Default ``"raw"`` keeps exact
    cosines — the registered driver queries use raw.

    The layout IS the optimization: a probe reading ``nprobe`` cells
    scans ``nprobe/n_centroids`` of the corpus BYTES via static
    partition pruning — on object storage the dominant ANN cost is the
    scan, and no join strategy can cut a scan the way pruning does
    (same principle as `sinks.write_key_bucketed` for key probes).
    Build cost: `train_centroids` (broadcast Lloyd iterations) + one
    corpus shuffle on cell id for the partitioned write.

    Pass ``n_fine`` to build with the TWO-LEVEL quantizer
    (`train_centroids_2level`): ``n_centroids`` coarse cells ×
    ``n_fine`` fine cells each, corpus assignment via the hierarchical
    argmax (`_assign_cells_2level` — O(√k+√k) dots per row instead of
    k). This is the billion-vector operating point: flat assignment
    against k cells is O(n·k) FLOPs, and at scaled-k (k ∝ n, the
    IVF/SemDeDup regime) the build's assignment stage goes quadratic —
    the r7 factor-100 scalecheck measured exactly that term. The
    LAYOUT is unchanged: fine centroid ids are the global
    ``centroid_id=`` partition values (``centroids/`` carries the fine
    table with its ``coarse_id`` column; the coarse table lands beside
    it under ``coarse/``), so probes, appends, compaction and the
    shared-quantizer dedup seam all work identically — a probe over
    the same cells is bit-identical to a flat probe (query-side
    scoring is flat over the fine centroids; queries are few, the
    corpus is what must never pay O(k)).

    A REBUILD is a pointer flip (same commit protocol as the MinHash
    index and the streaming txn store — `sources.manifest`): cells and
    centroids land together in a fresh ``versions/v<n>-<uuid>/`` dir
    and become visible only when the manifest publishes, so a crash at
    ANY point leaves the old index fully live — never new-quantizer
    cells scored against old centroids (round-4 ADVICE: the old
    in-place write had exactly that torn window between its two
    overwrites). Reclaim superseded versions with `vacuum_ivf_index`.
    """
    import posixpath as _pp
    import uuid as _uuid

    from ..sources.manifest import VersionedManifest

    if cell_storage not in ("raw", "int8", "pq"):
        raise ValueError(f"unknown cell_storage {cell_storage!r}")
    train = vectors
    if train_fraction is not None:
        if not 0.0 < train_fraction <= 1.0:
            raise ValueError(
                f"train_fraction must be in (0, 1]: {train_fraction}"
            )
        train = vectors.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(10_000))
            < F.lit(int(train_fraction * 10_000))
        )
    pq = None
    if cell_storage == "pq":
        books = train_pq_codebooks(
            train, pq_m, pq_k, n_iters, vec_col, id_col
        ).persist()
        # dsub from the trained codeword width — no second corpus read
        pq_dsub = len(books.first()["codeword"])
        pq = (_pq_codebook_row(books), pq_m, pq_dsub)
    vm = VersionedManifest(path)
    spark = vectors.sparkSession
    version = vm.latest_version(spark)
    rel = _pp.join("versions", f"v{version + 1}-{_uuid.uuid4().hex[:8]}")
    vroot = _pp.join(path, rel)
    norm = vectors.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col),
        l2_normalize(F.col(vec_col)).alias("_v"),
    )
    if n_fine is not None:
        coarse, centroids = train_centroids_2level(
            train, n_centroids, n_fine, n_iters, vec_col, id_col
        )
        coarse = coarse.persist()
        centroids = centroids.persist()
        cells = _assign_cells_2level(norm, "_v", coarse, centroids)
    else:
        coarse = None
        centroids = train_centroids(
            train, n_centroids, n_iters, vec_col, id_col
        ).persist()
        cells = _assign_cells(norm, "_v", centroids)
    cells = _cells_projection(cells, cell_storage, vec_col, id_col, pq=pq)
    # batch=base level from day 0 so `append_ivf_index` can fold daily
    # vector batches idempotently beside it (same layout rationale as
    # the MinHash index); centroid_id stays the inner partition level,
    # so probe pruning on it spans every batch directory
    (
        cells.repartition("centroid_id")
        .write.mode("errorifexists")
        .partitionBy("centroid_id")
        .parquet(_pp.join(vroot, "cells", "batch=base"))
    )
    centroids.write.mode("errorifexists").parquet(
        _pp.join(vroot, "centroids")
    )
    centroids.unpersist()
    if coarse is not None:
        coarse.write.mode("errorifexists").parquet(
            _pp.join(vroot, "coarse")
        )
        coarse.unpersist()
    if pq is not None:
        books.write.mode("errorifexists").parquet(_pp.join(vroot, "pq"))
        books.unpersist()
    from ..sources.fs import require_success_marker

    # both written directories, for symmetry with the compaction's
    # both-sides completeness rule: a committer that drops markers
    # per-output (not cluster-wide) must fail at build time, not be
    # misread downstream
    require_success_marker(
        spark, _pp.join(vroot, "cells", "batch=base"), "IVF index build"
    )
    require_success_marker(
        spark, _pp.join(vroot, "centroids"), "IVF index build"
    )
    if n_fine is not None:
        require_success_marker(
            spark, _pp.join(vroot, "coarse"), "IVF index build"
        )
    if pq is not None:
        require_success_marker(
            spark, _pp.join(vroot, "pq"), "IVF index build"
        )
    payload = {
        "current": rel,
        "n_centroids": n_centroids,
        "n_iters": n_iters,
        "vec_col": vec_col,
        "id_col": id_col,
    }
    # absent for flat/raw builds: old manifests stay valid and readers
    # treat missing keys as the flat quantizer / raw storage
    if n_fine is not None:
        payload["n_fine"] = n_fine
    if cell_storage != "raw":
        payload["cell_storage"] = cell_storage
    if pq is not None:
        payload["pq_m"] = pq_m
        payload["pq_dsub"] = pq_dsub
    vm.publish_or_raise(spark, payload, version, "IVF index rebuild")


def _ivf_meta_from_payload(
    version: int, payload: dict, path: str
) -> tuple[dict, str]:
    """(parameter contract, data root) from a resolved manifest payload
    — shared by the probe resolver and the append fold so each pays
    exactly one manifest round-trip."""
    import posixpath as _pp

    try:
        meta = {
            "n_centroids": int(payload["n_centroids"]),
            "n_iters": int(payload["n_iters"]),
            "vec_col": str(payload["vec_col"]),
            "id_col": str(payload["id_col"]),
            # absent on flat builds (and every pre-r8 manifest)
            "n_fine": (
                int(payload["n_fine"]) if "n_fine" in payload else None
            ),
            "cell_storage": str(payload.get("cell_storage", "raw")),
            # present iff cell_storage == "pq" (r9 tier)
            "pq_m": int(payload["pq_m"]) if "pq_m" in payload else None,
            "pq_dsub": (
                int(payload["pq_dsub"]) if "pq_dsub" in payload else None
            ),
        }
        current = str(payload["current"])
    except (ValueError, KeyError, TypeError) as exc:
        raise ValueError(
            f"corrupt IVF index manifest version {version} under "
            f"{path}: {payload!r}"
        ) from exc
    return meta, _pp.join(path, current)


def _resolve_ivf_index(spark, path: str) -> tuple[dict, str]:
    """(parameter contract, data root) — manifest-committed layout
    first, pre-manifest marker layout (cells/centroids at the index
    root) as the fallback. Missing/corrupt indexes raise."""
    import json as _json
    import os as _os
    import posixpath as _pp

    from ..sources.fs import read_text
    from ..sources.manifest import VersionedManifest

    version, payload = VersionedManifest(path).resolve(spark)
    if payload is not None:
        return _ivf_meta_from_payload(version, payload, path)
    marker = _os.path.join(path, IVF_META_FILE)
    raw = read_text(spark, marker)
    if raw is None:
        raise ValueError(
            f"no IVF index marker at {marker} (and no _manifests/) — "
            "not an index directory"
        )
    try:
        meta = _json.loads(raw)
        return {
            "n_centroids": int(meta["n_centroids"]),
            "n_iters": int(meta["n_iters"]),
            "vec_col": str(meta["vec_col"]),
            "id_col": str(meta["id_col"]),
            "n_fine": None,  # legacy layout predates the 2-level build
            "cell_storage": "raw",  # and the int8/pq storage tiers
            "pq_m": None,
            "pq_dsub": None,
        }, path
    except (ValueError, KeyError, TypeError) as exc:
        raise ValueError(
            f"corrupt IVF index marker at {marker}: {raw!r}"
        ) from exc


def read_ivf_index_meta(spark, path: str) -> dict:
    """The index parameter contract (manifest-first, legacy-marker
    fallback); missing/corrupt indexes raise."""
    return _resolve_ivf_index(spark, path)[0]


def read_ivf_centroids(spark, path: str) -> DataFrame:
    """The persisted quantizer: ``(centroid_id, centroid)`` of the
    index's CURRENT version (unit-norm — `train_centroids`
    re-normalizes after every Lloyd step). This is the shared-quantizer
    seam: pass the result as `semantic_dedup(centroids=...)` so dedup
    and ANN probes operate on ONE cell layout — the corpus is
    cell-assigned once per quantizer, and a dedup decision can be
    joined back to the index's cells without re-clustering."""
    _, root = _resolve_ivf_index(spark, path)
    import posixpath as _pp

    return spark.read.parquet(_pp.join(root, "centroids")).select(
        "centroid_id", "centroid"
    )


def read_ivf_quantizer(
    spark, path: str
) -> tuple[DataFrame | None, DataFrame]:
    """The persisted quantizer in assignment-ready form:
    ``(coarse, fine)`` where ``coarse`` is None for flat indexes and
    ``fine`` is the full centroid table (``(centroid_id, coarse_id,
    centroid)`` on two-level indexes, ``(centroid_id, centroid)`` on
    flat ones). The two-level shared-quantizer seam: pass both straight
    to ``semantic_dedup(centroids=fine, coarse_centroids=coarse)`` so
    a dedup over a 2-level index assigns hierarchically (O(√k+√k)
    dots/row) against the SAME global cell ids the index's
    ``centroid_id=`` partitions use — never the flat O(k) scan of the
    fine table that `read_ivf_centroids` alone would imply."""
    meta, root = _resolve_ivf_index(spark, path)
    coarse, fine = _load_quantizer(spark, root, meta["n_fine"])
    if coarse is None:
        return None, fine.select("centroid_id", "centroid")
    return coarse.select("centroid_id", "centroid"), fine.select(
        "centroid_id", "coarse_id", "centroid"
    )


def append_ivf_index(
    vectors: DataFrame,
    path: str,
    batch_token: str | None = None,
) -> None:
    """Fold a new vector batch into the persisted IVF index WITHOUT a
    rebuild: assign against the STORED quantizer (centroids unchanged)
    and land the cells in an idempotent ``cells/batch=<token>/``
    directory of the current version — daily cost is O(|batch|), never
    O(|corpus|), and probes see the new vectors immediately through
    the same centroid_id partition pruning.

    Same-token retries overwrite their own batch directory (the
    foreachBatch replay contract, as in `append_minhash_index`). The
    quantizer does not adapt: if the embedding distribution drifts,
    schedule a `write_ivf_index` rebuild — the pointer flip keeps the
    old index serving until the new one commits. Requires the
    manifest layout (rebuild a legacy index first).
    """
    import posixpath as _pp
    import uuid as _uuid

    from ..sources.manifest import VersionedManifest

    token = batch_token if batch_token is not None else _uuid.uuid4().hex
    if "/" in token or "=" in token:
        raise ValueError(f"batch_token must be path-safe: {token!r}")
    spark = vectors.sparkSession
    from ..sources.fs import require_success_marker

    vm = VersionedManifest(path)
    for _attempt in range(5):
        # no manifest means either a truly-missing index (_resolve
        # raises the standard missing-marker error) or a LEGACY index,
        # which cannot take batch= appends beside its flat cells layout
        version, payload = vm.resolve(spark)
        if payload is None:
            _resolve_ivf_index(spark, path)  # raises if truly missing
            raise ValueError(
                f"IVF index at {path} predates the manifest layout — "
                "rebuild with write_ivf_index before appending"
            )
        # a compacted-away token is durable in every later base — a
        # replay re-appending it would duplicate cells (see
        # compact_ivf_index's folded-token contract)
        if token in set(payload.get("folded", ())):
            return
        meta, data_root = _ivf_meta_from_payload(version, payload, path)
        vec_col, id_col = meta["vec_col"], meta["id_col"]
        norm = vectors.select(
            F.col(id_col).alias("_vid"),
            F.col(vec_col),
            l2_normalize(F.col(vec_col)).alias("_v"),
        )
        # the batch assigns against the STORED quantizer in its own
        # geometry: hierarchical argmax on 2-level indexes (same
        # O(√k+√k) dots/row as the build — an append that flat-scanned
        # the fine table would reintroduce the O(n·k) term the 2-level
        # build exists to kill), flat argmax otherwise
        coarse, centroids = _load_quantizer(
            spark, data_root, meta["n_fine"]
        )
        if coarse is not None:
            assigned = _assign_cells_2level(norm, "_v", coarse, centroids)
        else:
            assigned = _assign_cells(norm, "_v", centroids)
        pq = None
        if meta["cell_storage"] == "pq":
            pq = (
                _pq_codebook_row(
                    spark.read.parquet(_pp.join(data_root, "pq"))
                ),
                meta["pq_m"],
                meta["pq_dsub"],
            )
        cells = _cells_projection(
            assigned, meta["cell_storage"], vec_col, id_col, pq=pq
        )
        batch_dir = _pp.join(data_root, "cells", f"batch={token}")
        # STATIC overwrite scoped to this writer: the session default
        # is dynamic (for the dt-partitioned sinks), but a same-token
        # retry must replace the WHOLE batch dir, not only the
        # partitions the retry's data happens to touch — dynamic mode
        # would leave stale cells from a previous partial attempt
        # beside the fresh ones
        (
            cells.repartition("centroid_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("centroid_id")
            .parquet(batch_dir)
        )
        # compaction completeness keys on this marker (written strictly
        # after every commitJob rename) — a cluster configured not to
        # emit it would silently void the torn-commit guard, so fail
        # loudly at the first fold (same contract as
        # append_minhash_index)
        require_success_marker(spark, batch_dir, "IVF fold")
        # commit point: the same-payload version bump serializes this
        # fold against compactions/rebuilds — see
        # append_minhash_index's concurrency contract (a fold losing
        # the race redoes against the new current version; a
        # compaction that globbed before this fold landed loses ITS
        # race instead of publishing a version that omits the batch)
        if vm.publish(spark, payload, version):
            vm.vacuum_superseded(spark)
            return
    raise RuntimeError(
        f"IVF index fold {token!r} at {path} lost the manifest race "
        "5 times in a row — writers are churning versions faster than "
        "the fold can land; pause compactions and retry"
    )


def delete_from_ivf_index(
    ids: DataFrame,
    path: str,
    delete_token: str | None = None,
) -> None:
    """Delete vectors from the persisted IVF index WITHOUT a rebuild —
    the data-retraction path (takedowns, right-to-be-forgotten,
    license revocation) a 100 TB deployment cannot serve with
    `write_ivf_index`, whose cost is the whole corpus.

    Deletes are TOMBSTONES, the Lucene/Delta model: the ids land in an
    idempotent ``tombstones/batch=<token>/`` directory of the current
    version — O(|deleted|) write, the cells are untouched — and every
    reader excludes them through the `_decoded_cells` seam (search
    probes, decontamination, kNN eval, streaming ingest: a deleted row
    can neither be returned nor absorb a new near-duplicate, effective
    at the next probe). The PHYSICAL reclaim is `compact_ivf_index`,
    which anti-joins the folded base against the tombstones and starts
    the new version with none — until then probes still scan the
    deleted rows' bytes inside their cells and pay one small anti-join
    (`maintain_ivf_index`'s ``max_tombstone_ratio`` watermark exists
    to bound exactly that).

    ``ids`` is a one-column DataFrame (or any DataFrame carrying the
    index's id column). Deleting an id the index does not hold is a
    no-op by value. Same-token retries overwrite their own batch dir
    (the foreachBatch replay contract shared with `append_ivf_index`);
    the manifest version bump serializes deletes against compactions —
    a compaction that globbed before this tombstone landed loses its
    race instead of publishing a version that silently resurrects the
    rows. Compacted-away tokens are durable in the manifest's
    ``folded_deletes`` list so a replay after compaction no-ops
    instead of re-tombstoning an id a later batch legitimately
    re-added — a list deliberately DISJOINT from the append tokens'
    ``folded`` (one shared namespace would let a compacted append
    token silently swallow a later delete that reuses the string, and
    the default streaming tokens of an add stream and a retraction
    stream collide by construction).

    RE-ADD contract: a tombstone suppresses its id wherever it lives,
    including batches folded AFTER the delete — re-adding a deleted id
    requires compacting first (which applies and clears the
    tombstones), the delete-side twin of `append_bm25_index`'s
    new-docs-only note.
    """
    from .tombstones import tombstone_delete

    def _resolve(spark, version, payload):
        if payload is None:
            _resolve_ivf_index(spark, path)  # raises if truly missing
            raise ValueError(
                f"IVF index at {path} predates the manifest layout — "
                "rebuild with write_ivf_index before deleting"
            )
        meta, data_root = _ivf_meta_from_payload(version, payload, path)
        return data_root, meta["id_col"], meta["id_col"]

    tombstone_delete(ids, path, delete_token, "IVF delete", _resolve)


def compact_ivf_index(
    spark, path: str, folded_retention: int | None = None
) -> bool:
    """Fold every COMPLETE ``cells/batch=`` directory of the current
    version into a single ``batch=base`` under a NEW manifest-committed
    version (probe listing cost grows with batch dirs between
    compactions). Completeness is the batch dir's ``_SUCCESS`` marker
    (written strictly after every commitJob rename — part files alone
    prove a commit STARTED, not finished, and folding a half-committed
    batch would bake partial cells into the base which its same-token
    replay then duplicates). Batch dirs holding data files WITHOUT the
    marker are torn commits and make the compaction REFUSE loudly;
    marker-less empty dirs are skipped (replay heals them). One
    listing per check, no per-token probes. Pointer-flip semantics as
    everywhere: old version live until the publish, vacuum afterwards.
    False on a legacy index. ``folded_retention`` bounds the
    cumulative folded-token list to the newest N in fold order — same
    contract and safety argument as `compact_minhash_index`'s.

    Tombstones (`delete_from_ivf_index`) are APPLIED here: the folded
    base anti-joins the complete tombstone batches, so the new version
    physically drops the deleted rows and starts with no tombstones —
    probes stop paying the deleted rows' scan bytes and the per-probe
    anti-join. Tombstone tokens join the ``folded_deletes`` list
    (disjoint from the append tokens' ``folded`` — see
    `delete_from_ivf_index`), so a delete replayed after its
    compaction no-ops instead of re-tombstoning an id a later batch
    legitimately re-added. Torn tombstone commits refuse exactly like
    torn cell folds."""
    import posixpath as _pp
    import uuid as _uuid

    from ..sources.fs import glob_paths
    from ..sources.manifest import VersionedManifest

    vm = VersionedManifest(path)
    version, payload = vm.resolve(spark)
    if payload is None:
        return False
    meta, old_root = _ivf_meta_from_payload(version, payload, path)

    def _glob_tokens(subdir: str, leaf: str) -> set[str]:
        return {
            p.rsplit("batch=", 1)[1].split("/", 1)[0]
            for p in glob_paths(
                spark, _pp.join(old_root, subdir, "batch=*", leaf)
            )
        }

    marked = _glob_tokens("cells", "_SUCCESS")
    torn = sorted(_glob_tokens("cells", "centroid_id=*/part-*") - marked)
    if torn:
        raise RuntimeError(
            f"IVF index at {path}: cells batch dirs {torn} hold data "
            "files without a _SUCCESS marker — a torn job commit. "
            "Restart the ingest so the same-token replay completes "
            "these folds, or remove the torn directories, then compact."
        )
    # tombstone completeness mirrors the cells rule: probes simply skip
    # a torn delete (replay heals it), but a compaction that ignored
    # one would publish a base RESURRECTING the rows it meant to drop
    t_marked = _glob_tokens("tombstones", "_SUCCESS")
    t_torn = sorted(_glob_tokens("tombstones", "part-*") - t_marked)
    if t_torn:
        raise RuntimeError(
            f"IVF index at {path}: tombstone batch dirs {t_torn} hold "
            "data files without a _SUCCESS marker — a torn delete "
            "commit. Re-run the same-token delete to complete it, or "
            "remove the torn directories, then compact."
        )
    complete = sorted(marked)
    if not complete:
        return False
    rel = _pp.join("versions", f"v{version + 1}-{_uuid.uuid4().hex[:8]}")
    vroot = _pp.join(path, rel)
    folded_cells = (
        # basePath: each selected batch dir contains centroid_id=
        # partitions, and without a common table root the multi-path
        # discovery rejects the layout as conflicting
        spark.read.option("basePath", _pp.join(old_root, "cells"))
        .parquet(
            *[_pp.join(old_root, "cells", f"batch={t}") for t in complete]
        )
        .select(
            *(
                [meta["id_col"], "q", "scale", "centroid_id"]
                if meta["cell_storage"] == "int8"
                else [meta["id_col"], "codes", "centroid_id"]
                if meta["cell_storage"] == "pq"
                else [meta["id_col"], meta["vec_col"], "centroid_id"]
            )
        )
    )
    if t_marked:
        # apply deletes physically: the new base never holds the rows,
        # and the new version carries no tombstones/ dir at all
        tombs = _ivf_tombstone_ids(spark, old_root, meta["id_col"])
        folded_cells = folded_cells.join(
            tombs, meta["id_col"], "left_anti"
        )
    (
        folded_cells.repartition("centroid_id")
        .write.mode("errorifexists")
        .partitionBy("centroid_id")
        .parquet(_pp.join(vroot, "cells", "batch=base"))
    )
    from ..sources.fs import require_success_marker

    require_success_marker(
        spark, _pp.join(vroot, "cells", "batch=base"), "IVF index compaction"
    )
    # the quantizer travels unchanged to the new version (both levels
    # on a 2-level index — the fine table under centroids/, the coarse
    # table beside it)
    spark.read.parquet(_pp.join(old_root, "centroids")).write.mode(
        "errorifexists"
    ).parquet(_pp.join(vroot, "centroids"))
    if meta["n_fine"] is not None:
        spark.read.parquet(_pp.join(old_root, "coarse")).write.mode(
            "errorifexists"
        ).parquet(_pp.join(vroot, "coarse"))
    if meta["cell_storage"] == "pq":
        spark.read.parquet(_pp.join(old_root, "pq")).write.mode(
            "errorifexists"
        ).parquet(_pp.join(vroot, "pq"))
    # cumulative folded-token record: append_ivf_index no-ops for
    # these, closing the replay-after-compaction duplication window
    # (see compact_minhash_index — same contract, same prune rule)
    from .dedup import _fold_token_list

    folded = _fold_token_list(
        payload.get("folded", ()), complete, folded_retention
    )
    # applied tombstone tokens are durable in their OWN list — one
    # namespace with the append tokens would let a compacted append
    # silently swallow a later delete that reuses the string (the
    # default streaming tokens collide by construction)
    folded_del = _fold_token_list(
        payload.get("folded_deletes", ()), sorted(t_marked),
        folded_retention,
    )
    if not vm.publish(
        spark,
        {
            **payload,
            "current": rel,
            "folded": folded,
            "folded_deletes": folded_del,
        },
        version,
    ):
        # same contract as compact_minhash_index: a concurrent fold's
        # version bump (or a rebuild) means this compaction's batch
        # listing is stale — refuse rather than ship a version that
        # omits the new batch; the old version stays live.
        raise RuntimeError(
            f"IVF index compaction at {path} lost the manifest race "
            f"for version {version + 1}: a concurrent fold or rebuild "
            "committed first. Nothing is lost — the previous version "
            "remains live; re-run the compaction."
        )
    return True


def vacuum_ivf_index(spark, path: str) -> list[str]:
    """Reclaim superseded IVF versions: unreferenced ``versions/``
    dirs (in-flight rebuilds excluded — see
    `VersionedManifest.vacuum_versions`), superseded manifests, and
    legacy root cells/centroids + marker once a manifest exists.
    Returns deleted paths."""
    from ..sources.manifest import VersionedManifest

    return VersionedManifest(path).vacuum_versions(
        spark,
        ("cells", "centroids", "coarse", "pq", "tombstones", IVF_META_FILE),
    )


def ivf_index_stats(spark, path: str) -> DataFrame:
    """Operational introspection of a persisted IVF index:
    ``(centroid_id, n_rows, n_batches)`` per cell, one bounded
    aggregation over the cells layout (map-side partial count, ≤ k
    output rows — cheap enough for a scheduled health check at any
    corpus size).

    What an operator reads off it at 100 TB:
    - **cell skew** — a cell whose ``n_rows`` is orders of magnitude
      above the mean is the degenerate-cluster failure (constant or
      duplicate embeddings from a broken upstream job): probes whose
      nprobe set includes it pay its whole scan, and a
      `semantic_dedup` sharing the quantizer pays its cell² pair
      stage. That is the signal to run exact dedup on the crowd, or
      rebuild with a larger ``n_centroids`` / a 2-level quantizer
      (`write_ivf_index(n_fine=)`), and what the
      ``max_cell_size`` valve guards downstream;
    - **fold fragmentation** — ``n_batches`` grows with every
      `append_ivf_index` between compactions, and listing cost at
      probe time grows with it: a high watermark is the cue to
      schedule `compact_ivf_index`.
    """
    import posixpath as _pp

    _, data_root = _resolve_ivf_index(spark, path)
    cells = spark.read.parquet(_pp.join(data_root, "cells"))
    # Legacy pre-manifest layouts (still resolved by
    # _resolve_ivf_index's fallback) have no batch= partition level
    # under cells/ — they predate append_ivf_index, so the whole
    # layout is one logical batch. Probes work on them; stats must
    # too, mirroring compact_ivf_index's explicit legacy handling.
    n_batches = (
        F.countDistinct("batch")
        if "batch" in cells.columns
        else F.max(F.lit(1)).cast("long")
    )
    return cells.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        n_batches.alias("n_batches"),
    )


def maintain_ivf_index(
    spark,
    path: str,
    max_batches: int = 8,
    max_cell_ratio: float = 8.0,
    folded_retention: int | None = None,
    vacuum: bool = False,
    max_tombstone_ratio: float = 0.2,
) -> dict:
    """The scheduled maintenance job `ivf_index_stats` exists to feed
    (same spirit as `streaming.maintain` for aggregates): read the
    per-cell health stats once, then act on the watermarks the
    stats docstring names.

    - **fold fragmentation**: when any cell spans more than
      ``max_batches`` batch dirs, run `compact_ivf_index` (probe
      listing cost grows with batch dirs; the fold is pointer-flip
      safe, so firing it here inherits the manifest protocol's
      idempotence — a lost race against a concurrent fold/rebuild is
      reported, not raised, because for a *scheduled* job "someone
      else just folded" is success-shaped; re-run next tick).
    - **cell skew**: when the largest cell exceeds ``max_cell_ratio``
      × the BALANCED cell size (total rows ÷ configured cell count —
      ``n_centroids``, × ``n_fine`` for 2-level layouts), flag
      ``rebuild_recommended`` and list the offending cells. The
      denominator is deliberately NOT the mean over non-empty cells:
      a degenerate crowd collapses most centroids onto itself, so few
      cells survive and the non-empty mean inflates toward the crowd
      — masking the exact failure the check exists for. Balanced size
      is also what probe cost math assumes (a probe reads
      nprobe/k of the corpus only while cells are near-balanced).
      Rebuilding is NOT automatic: it needs the corpus and quantizer
      parameters this helper deliberately does not hold (the right
      fixes — exact-dedup the crowd, larger ``n_centroids``, or a
      2-level build — are a human/pipeline decision, per the stats
      docstring).

    - **tombstone debt**: when the complete tombstone batches hold
      more than ``max_tombstone_ratio`` × the physical row count, run
      the compaction too — until tombstones are applied physically,
      every probe pays the deleted rows' scan bytes INSIDE its probed
      cells plus the per-probe anti-join, so unbounded delete debt
      erodes exactly the scan economics the cell layout exists for
      (the Lucene deleted-docs-before-merge cost, with compaction as
      the merge).

    ``vacuum=True`` additionally reclaims superseded versions via
    `vacuum_ivf_index` AFTER a successful compaction (and only then —
    vacuum timing is operational: probes draining the old version must
    finish first, so a deployment whose probes can span a maintenance
    tick keeps the default False and vacuums on its own schedule).

    Driver cost is one bounded aggregation (≤ n_centroids rows
    collected — the bounded-driver-read pattern) plus one scalar
    tombstone count; returns a report dict suitable for job
    logs/alerting::

        {"n_cells", "n_cells_configured", "n_rows", "n_tombstones",
         "max_batches_seen", "compacted", "compaction_race_lost",
         "balanced_cell_rows", "max_cell_rows",
         "skewed_cells": [(centroid_id, n_rows), ...],
         "rebuild_recommended"}
    """
    meta, data_root = _resolve_ivf_index(spark, path)
    k_total = meta["n_centroids"] * (meta["n_fine"] or 1)
    stats = ivf_index_stats(spark, path).collect()
    n_rows = sum(r["n_rows"] for r in stats)
    # DISTINCT ids: a takedown worklist replayed daily under fresh
    # tokens re-writes the same ids, and raw row counts would inflate
    # the debt watermark into full-rewrite compactions that reclaim
    # nothing (per-batch distinct cannot dedupe ACROSS batches)
    tombs = _ivf_tombstone_ids(spark, data_root, meta["id_col"])
    n_tombstones = tombs.distinct().count() if tombs is not None else 0
    balanced = n_rows / k_total if k_total else 0.0
    max_seen = max((r["n_batches"] for r in stats), default=0)
    # None-safe sort key: NULL-vector rows live in a NULL centroid_id
    # cell (the hive default partition), which ivf_index_stats returns
    # as None — if that cell crosses the skew watermark alongside
    # numeric cells a naive tuple sort would raise (None < int)
    skewed = sorted(
        (
            (r["centroid_id"], r["n_rows"])
            for r in stats
            if balanced > 0 and r["n_rows"] > max_cell_ratio * balanced
        ),
        key=lambda t: (t[0] is None, t[0] if t[0] is not None else 0, t[1]),
    )
    report = {
        "n_cells": len(stats),
        "n_cells_configured": k_total,
        "n_rows": n_rows,
        "n_tombstones": n_tombstones,
        "max_batches_seen": max_seen,
        "compacted": False,
        "compaction_race_lost": False,
        "balanced_cell_rows": round(balanced, 1),
        "max_cell_rows": max((r["n_rows"] for r in stats), default=0),
        "skewed_cells": skewed,
        "rebuild_recommended": bool(skewed),
    }
    if max_seen > max_batches or (
        n_rows > 0 and n_tombstones > max_tombstone_ratio * n_rows
    ):
        try:
            report["compacted"] = compact_ivf_index(
                spark, path, folded_retention=folded_retention
            )
        except RuntimeError as exc:
            # ONLY the manifest race is success-shaped for a scheduled
            # job; a torn-commit refusal (the other RuntimeError in
            # compact) is a real operator problem and must propagate
            if "lost the manifest race" not in str(exc):
                raise
            report["compaction_race_lost"] = True
        if vacuum and report["compacted"]:
            report["vacuumed"] = vacuum_ivf_index(spark, path)
    return report


def _probe_cells(
    spark,
    qn: DataFrame,
    key_col: str,
    carry_cols: list[str],
    norm_col: str,
    meta: dict,
    data_root: str,
    nprobe: int,
) -> tuple[DataFrame, DataFrame]:
    """The ONE probe-selection seam shared by `ivf_search_index` and
    `semantic_decontaminate_index`: score ``norm_col`` against the
    broadcast centroid table, keep each key's ``nprobe`` best cells
    (ties to the smaller centroid id), and return ``(probes,
    decoded_cells)`` where probes = ``(key_col, *carry_cols,
    centroid_id)`` and the cells read is restricted to the probed
    partitions via a STATIC isin filter (the probe ids are collected
    to the driver — bounded by n_centroids, thousands at most — so
    pruning is visible in the scan's PartitionFilters, not dependent
    on runtime DPP kicking in).

    localCheckpoint on the probe set: it is consumed at least twice
    (the driver-side probe-id collect AND the candidate join) and
    would otherwise recompute the full queries×centroids scoring +
    window each time."""
    import posixpath as _pp

    centroids = spark.read.parquet(_pp.join(data_root, "centroids"))
    scored = qn.crossJoin(F.broadcast(centroids)).withColumn(
        "_psim", dot(F.col(norm_col), F.col("centroid"))
    )
    wq = Window.partitionBy(key_col).orderBy(
        F.col("_psim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        scored.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= nprobe)
        .select(key_col, *carry_cols, "centroid_id")
        .localCheckpoint()
    )
    probe_ids = sorted(
        r["centroid_id"]
        for r in probes.select("centroid_id").distinct().collect()
    )
    cells = spark.read.parquet(_pp.join(data_root, "cells")).filter(
        F.col("centroid_id").isin(probe_ids)
    )
    return probes, _decoded_cells(spark, cells, meta, data_root)


def ivf_search_index(
    queries: DataFrame,
    path: str,
    nprobe: int = 2,
    k: int = 5,
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k against a persisted `write_ivf_index` layout — same
    output schema and (identical quantizer) same results as `ivf_topk`,
    but the corpus side reads ONLY the probed cells.

    ``allowed`` is the FILTERED-search form (the metadata-predicate +
    vector-search composition every retrieval pipeline eventually
    needs): a one-column (or ``id_col``-bearing) table of permitted
    corpus ids — e.g. ``docs.filter(lang == 'en').select('vec_id')``.
    The filter is applied to the probed-cell candidates BEFORE
    ranking (a left-semi join on the id — Catalyst/AQE picks
    broadcast vs shuffle by the allowed side's size; it may be
    millions of rows, so it is deliberately not hint-forced), so the
    top-k is the true top-k AMONG allowed rows — post-filtering a
    pre-computed top-k would silently under-fill it. The rerank
    shortlist then builds from filtered candidates, unchanged.
    Queries whose probed cells hold no allowed rows return no rows
    for that query — widen ``nprobe`` when the predicate is highly
    selective (the classic filtered-ANN recall trade). So that recall
    starvation is DETECTABLE rather than silent (the ``exact``-column
    pattern applied to filtering), filtered output carries an
    ``n_candidates`` column: the number of allowed candidate rows the
    probed cells actually held for that query. ``n_candidates`` barely
    above ``k`` (or under it — the query under-fills) is the caller's
    cue to widen ``nprobe``; an unconstrained search omits the column.

    The probed cell ids are collected to the driver (bounded by
    ``n_centroids``, thousands at most — the bounded-driver-read
    pattern) and pushed as a partition filter, so pruning is static
    and visible in the scan's PartitionFilters, not dependent on
    runtime DPP kicking in.

    ``rerank`` (a ``(id_col, vec_col)`` table holding the RAW
    vectors — normally the corpus the index was built from) turns the
    int8 tier exact-capable, the classic two-stage ADC pipeline: the
    probed-cell scan ranks ``rerank_factor × k`` candidates per query
    on the cheap quantized reconstruction, then ONLY that shortlist
    (|queries|·rerank_factor·k rows — broadcast-sized) joins back to
    the raw vectors for an exact cosine re-rank. The expensive scan
    stays on the small bytes; the exact math runs on a bounded set.
    The shortlist travels as ids + quantized scores (query vectors
    rejoin from the probe input), the raw table is scanned once,
    semi-reduced to the shortlist ids, and never shuffled or
    broadcast whole. A candidate MISSING from ``rerank`` (rows folded
    into the index after the raw snapshot) keeps its quantized cosine
    instead of silently dropping out of the top-k — and the rerank
    output carries an ``exact`` boolean column (false = fallback) so
    a stale rerank snapshot is DETECTABLE: quantized scores can bias
    high, so a fallback row in the top-k is the caller's cue to
    refresh the raw table, not a silent mix of score scales. With raw
    cell storage ``rerank`` is a no-op semantically (same vectors
    both stages) and simply costs the extra join — callers use it
    with int8 and pq indexes (pq needs a deeper ``rerank_factor``:
    its reconstruction error exceeds int8's 1 LSB, so the exact
    top-k needs a wider quantized shortlist to hide in).
    """
    spark = queries.sparkSession
    meta, data_root = _resolve_ivf_index(spark, path)
    vec_col, id_col = meta["vec_col"], meta["id_col"]

    qn = queries.withColumn("_qv", l2_normalize(F.col("query_vec")))
    # quantized cells reconstruct in-plan inside _probe_cells (int8:
    # q×scale dequantize, ~7× fewer scanned bytes, cosine moves ≤ 1
    # LSB/dim — pq: codeword concat via the broadcast codebook row,
    # ~32× fewer bytes at m=16) and rank over the restored vector
    probes, cells = _probe_cells(
        spark, qn, "query_id", ["query_vec"], "_qv", meta, data_root,
        nprobe,
    )
    if allowed is not None:
        ids = (
            allowed.select(F.col(id_col))
            if id_col in allowed.columns
            else allowed.select(F.col(allowed.columns[0]).alias(id_col))
        )
        # pre-rank semi join: top-k must be computed AMONG allowed
        # rows, never filtered out of an unconstrained top-k. No
        # .distinct() — a left-semi join matches each cell row at most
        # once whatever the build side holds, and the allowed side may
        # be corpus-sized (a dedup there is a wasted shuffle+aggregate)
        cells = cells.join(ids, id_col, "left_semi")
    cands = probes.join(cells, "centroid_id").withColumn(
        "cosine", cosine(F.col("query_vec"), F.col(vec_col))
    )
    if allowed is not None:
        # starvation signal: how many allowed rows the probed cells
        # actually held for this query — an unbounded window count,
        # but it shares the rank window's partitioning (query_id) so
        # it costs no extra shuffle
        cands = cands.withColumn(
            "_ncand",
            F.count(F.lit(1)).over(Window.partitionBy("query_id")),
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    if rerank is not None:
        # the shortlist travels as (query_id, id, quantized-cosine) —
        # NOT with a copy of query_vec per candidate row, which would
        # inflate the broadcast ~rerank_factor·k× for nothing (the
        # query vectors rejoin from the |queries|-sized probe input
        # below). localCheckpoint: consumed twice (the semi-reduction
        # ids + the outer join) and would otherwise re-scan the
        # probed cells both times.
        shortlist = (
            cands.withColumn("_ar", F.row_number().over(w))
            .filter(F.col("_ar") <= k * rerank_factor)
            .select(
                "query_id",
                id_col,
                F.col("cosine").alias("_qcos"),
                *(["_ncand"] if allowed is not None else []),
            )
            .localCheckpoint()
        )
        # scan the raw table ONCE, reduced to shortlist ids by a
        # broadcast semi-join, so the left-outer below broadcasts a
        # ≤|shortlist| build side — the raw corpus is never shuffled
        # or broadcast whole
        raws = rerank.select(id_col, F.col(vec_col).alias("_raw")).join(
            F.broadcast(shortlist.select(id_col).distinct()),
            id_col,
            "left_semi",
        )
        # LEFT join + quantized-cosine fallback: a candidate missing
        # from the caller's raw table (e.g. rows folded by
        # append_ivf_index after the rerank table was snapshotted)
        # keeps its quantized score instead of silently vanishing
        # from the top-k — degraded precision for that row, never a
        # dropped result
        cands = (
            shortlist.join(F.broadcast(raws), id_col, "left")
            .join(
                F.broadcast(qn.select("query_id", "query_vec")),
                "query_id",
            )
            .withColumn(
                "cosine",
                F.coalesce(
                    cosine(F.col("query_vec"), F.col("_raw")),
                    F.col("_qcos"),
                ),
            )
            # surfaced so callers can DETECT a stale rerank snapshot:
            # a fallback row competes with exactly-scored rows on a
            # quantized (possibly high-biased) score, which is the
            # right availability tradeoff but must not be silent —
            # exact=false in the top-k says "refresh the raw table"
            .withColumn("exact", F.col("_raw").isNotNull())
        )
    out = (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("match_id"),
            "rank",
            F.round("cosine", 6).alias("cosine_sim"),
            *(["exact"] if rerank is not None else []),
            *(
                [F.col("_ncand").alias("n_candidates")]
                if allowed is not None
                else []
            ),
        )
    )
    return out


def semantic_decontaminate_index(
    benchmark: DataFrame,
    path: str,
    threshold: float = 0.95,
    nprobe: int = 2,
    bench_vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
) -> DataFrame:
    """`semantic_decontaminate` for benchmark sets past the broadcast
    bound — probe the CORPUS's persisted `write_ivf_index` layout with
    the benchmark vectors (the `dedup_against_index` composition, run
    in the leakage direction): every corpus row in a probed cell whose
    cosine against some benchmark vector reaches ``threshold`` is
    flagged.

    Returns ONLY the contamination list — ``(id_col, benchmark_id,
    max_benchmark_sim, contaminated=true)``, one row per flagged
    corpus id with the same argmax/tiebreak/rounding contract as the
    broadcast form — because an index probe can only ever SEE rows
    near some benchmark vector; emitting the full corpus with NULL
    sims would require the corpus scan this variant exists to avoid.
    Callers drop flagged rows with an anti-join on ``id_col`` (the
    broadcast form's ``filter(contaminated)`` rows are exactly this
    list: pinned equal at full probe in `TestSemanticDecontaminate`).

    This is a RANGE search, not top-k: within a probed cell every
    pair crossing the threshold survives (no per-benchmark-row k
    cutoff to under-fill), so at ``nprobe`` = the full cell count the
    result is exact. At smaller ``nprobe`` it inherits the standard
    IVF recall trade — a contaminated corpus row hiding in a cell no
    benchmark vector probes is missed; decontamination is a
    recall-critical gate, so production runs want a generous
    ``nprobe`` (or full probe: the scan is still one pass of the
    cells, and the threshold filter keeps the pair volume bounded).

    Scale shape: benchmark×centroids broadcast scoring picks the
    probes; the probed cell ids push down as ONE static partition
    filter (bounded driver read, ≤ n_centroids values); candidate
    volume is |benchmark| × probed-cell rows, cut by the threshold
    filter BEFORE the groupBy, so the one corpus-sized shuffle keys
    on the corpus id over near-matches only. NULL corpus rows live in
    the NULL-cell partition, which numeric probe ids never select —
    they stay unflagged, matching the broadcast form's contract.
    Quantized tiers reconstruct in-plan via `_decoded_cells`;
    reconstruction error can move a borderline pair across the
    threshold, so exactness claims hold for raw cell storage.
    """
    _require_numeric_id(benchmark, bench_id_col, "benchmark")
    spark = benchmark.sparkSession
    meta, data_root = _resolve_ivf_index(spark, path)
    vec_col, id_col = meta["vec_col"], meta["id_col"]

    bn = benchmark.select(
        F.col(bench_id_col).alias("_bid"),
        F.col(bench_vec_col).alias("_bvec"),
        l2_normalize(F.col(bench_vec_col)).alias("_bnorm"),
    ).filter(F.col("_bvec").isNotNull() & (l2_norm(F.col("_bvec")) > 0))
    probes, cells = _probe_cells(
        spark, bn, "_bid", ["_bvec"], "_bnorm", meta, data_root, nprobe
    )
    pairs = (
        probes.join(cells, "centroid_id")
        .withColumn("_s", cosine(F.col("_bvec"), F.col(vec_col)))
        # threshold BEFORE the groupBy: round-then-compare matches the
        # broadcast form (a 0.9499997 raw sim rounds into the flag),
        # and round is monotone so the global argmax pair always
        # survives its own row's filter
        .filter(F.round(F.col("_s"), 6) >= F.lit(float(threshold)))
    )
    best = F.max(F.struct(F.col("_s").alias("s"), (-F.col("_bid")).alias("nid")))
    return pairs.groupBy(F.col(id_col)).agg(
        (-best["nid"]).alias("benchmark_id"),
        F.round(best["s"], 6).alias("max_benchmark_sim"),
        F.lit(True).alias("contaminated"),
    )


def ann_recall_eval(
    queries: DataFrame,
    path: str,
    k: int = 5,
    nprobes: tuple[int, ...] = (1, 2, 4, 8),
    exact: DataFrame | None = None,
    corpus: DataFrame | None = None,
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
) -> DataFrame:
    """Recall@k of the persisted IVF index across an ``nprobe`` ladder
    — the tuning harness every ANN deployment runs before picking its
    probe width: ``(nprobe, n_queries, mean_overlap, recall_at_k)``
    where recall is |index top-k ∩ exact top-k| / k averaged over the
    query set. Feed it a SAMPLED query set: the exact side is a brute
    force scan (the cost the index exists to avoid), so this is an
    offline calibration job over hundreds of queries, not a per-query
    runtime path.

    ``exact`` takes a precomputed `brute_force_topk` result (columns
    ``query_id, match_id, rank``); otherwise ``corpus`` must carry the
    raw ``(id, vector)`` table and the exact side is computed here.
    ``rerank``/``rerank_factor`` pass through to the probe so
    quantized tiers are evaluated the way they would be deployed.

    Ladder semantics: each nprobe value is one probe job (a bounded
    driver loop over a handful of ladder points — the probe plans are
    independent and each collapses to a 1-row aggregate). With raw
    cell storage recall is monotone non-decreasing in nprobe (a wider
    probe only ADDS candidates, and candidates rank by true cosine, so
    an exact-top-k member once found is never displaced by a
    non-member) and reaches 1.0 at full probe — pinned in
    TestAnnRecallEval; quantized tiers without ``rerank`` may wobble
    within reconstruction error (the documented trade), which is
    precisely what this harness exists to measure.

    Ties at the k-th cosine are counted by the same deterministic
    smaller-id rule both sides share, so recall compares identical
    tie-broken sets rather than penalizing arbitrary tie order.
    """
    if exact is None:
        if corpus is None:
            raise ValueError(
                "ann_recall_eval needs either exact= (a precomputed "
                "brute_force_topk result) or corpus= (the raw vectors)"
            )
        exact = brute_force_topk(corpus, queries, k=k)
    truth = exact.filter(F.col("rank") <= k).select(
        "query_id", "match_id"
    )
    # one bounded count, reused across the ladder (n_queries is the
    # recall denominator's denominator)
    n_queries = queries.select("query_id").distinct().count()
    if n_queries == 0:
        raise ValueError("ann_recall_eval needs a non-empty query set")
    out = None
    for nprobe in nprobes:
        got = ivf_search_index(
            queries, path, nprobe=int(nprobe), k=k,
            rerank=rerank, rerank_factor=rerank_factor,
        ).select("query_id", "match_id")
        hits = got.join(truth, ["query_id", "match_id"], "left_semi")
        row = hits.agg(
            F.lit(int(nprobe)).alias("nprobe"),
            F.lit(n_queries).alias("n_queries"),
            F.round(
                F.count(F.lit(1)) / F.lit(float(n_queries)), 6
            ).alias("mean_overlap"),
            F.round(
                F.count(F.lit(1)) / F.lit(float(n_queries * k)), 6
            ).alias("recall_at_k"),
        ).select("nprobe", "n_queries", "mean_overlap", "recall_at_k")
        out = row if out is None else out.unionByName(row)
    return out


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lambda_: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "match_id",
    score_col: str = "cosine_sim",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell &
    Goldstein, "The Use of MMR, Diversity-Based Reranking", SIGIR
    1998): greedily re-rank each query's candidate list so the next
    pick maximizes ``lambda_ · relevance − (1 − lambda_) · max
    similarity to anything already picked``. The retrieval-side
    redundancy cut every RAG/context-assembly pipeline needs — a
    near-dup-heavy corpus fills the whole top-k with copies of one
    document, and no pointwise score can fix that: the objective is
    over the SET, inherently sequential.

    ``candidates`` is the caller's bounded top-N per query — e.g.
    `ivf_search_index` output joined back to the raw vectors, with N
    a small multiple of ``k`` (the rerank_factor discipline). The
    greedy loop runs per query in one Arrow-batched `applyInPandas`
    group (the sanctioned vectorized-UDF case, like the banded-LSH
    signatures: a data-dependent sequential argmax is precisely what
    relational operators cannot express), with the pairwise-cosine
    work one numpy matmul per group — O(N²) floats over a bounded N,
    never over the corpus. The shuffle key is the query id; queries
    are independent, so the stage scales with the query set.

    Determinism: selection compares ``(-mmr_value, id)`` tuples, so
    exact ties break to the smaller id (ids need a total order —
    integers and strings both qualify; the output carries the input's
    own id/query types). NULL or zero-norm vectors participate as
    ORTHOGONAL (similarity 0 to everything): they are never penalized
    for redundancy but never excluded — the kept-singleton spirit of
    the dedup family.

    Returns ``(query_col, id_col, mmr_rank, mmr_score)`` with at most
    ``k`` rows per query. ``lambda_ = 1`` reproduces the relevance
    order; ``lambda_ = 0`` is pure diversity (rarely what anyone
    wants — keep ≥ 0.3).
    """
    if not 0.0 <= lambda_ <= 1.0:
        raise ValueError(f"lambda_ must be in [0, 1]: {lambda_}")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    import pandas as pd
    from pyspark.sql import types as T

    # carry the INPUT's id/query types (string doc ids are a supported
    # id surface across this engine — hardcoding long here would make
    # the operator silently unusable for them)
    in_schema = {f.name: f.dataType for f in candidates.schema.fields}
    out_schema = T.StructType(
        [
            T.StructField(query_col, in_schema[query_col]),
            T.StructField(id_col, in_schema[id_col]),
            T.StructField("mmr_rank", T.IntegerType()),
            T.StructField("mmr_score", T.DoubleType()),
        ]
    )
    lam = float(lambda_)

    def _mmr(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        n = len(pdf)
        if n == 0:
            return pd.DataFrame(
                columns=[query_col, id_col, "mmr_rank", "mmr_score"]
            )
        qid = pdf[query_col].iloc[0]
        ids = pdf[id_col].to_numpy()
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        dim = next(
            (len(v) for v in pdf[vec_col] if v is not None), 1
        )
        mat = np.zeros((n, dim), dtype=np.float64)
        for i, v in enumerate(pdf[vec_col]):
            if v is not None and len(v) == dim:
                mat[i] = v
        norms = np.linalg.norm(mat, axis=1)
        nz = norms > 0
        mat[nz] = mat[nz] / norms[nz, None]
        sims = mat @ mat.T  # N bounded by the caller's top-N contract
        selected: list[int] = []
        remaining = list(range(n))
        rows = []
        while remaining and len(selected) < k:
            best = None
            best_key = None
            for i in remaining:
                penalty = (
                    max(sims[i, j] for j in selected) if selected else 0.0
                )
                val = lam * rel[i] - (1.0 - lam) * penalty
                key = (-val, ids[i])
                if best_key is None or key < best_key:
                    best, best_key = i, key
            selected.append(best)
            remaining.remove(best)
            rows.append(
                (qid, ids[best], len(selected), -best_key[0])
            )
        return pd.DataFrame(
            rows, columns=[query_col, id_col, "mmr_rank", "mmr_score"]
        )

    return candidates.groupBy(query_col).applyInPandas(
        _mmr, schema=out_schema
    )
