"""Similarity search over embedding columns (array<float>).

Three execution strategies for the vector math, all producing
BIT-IDENTICAL doubles (so any of them hash-matches the DuckDB oracle):

  - **Arrow-vectorized fold (the hot path, used by every top-level
    function here).**  A scalar Pandas UDF receives the embedding
    column as Arrow batches, lifts it into an (N, dims) float64 matrix
    and computes dot products / norms / hyperplane signatures with
    numpy ops that are vectorized ACROSS ROWS but strictly sequential
    ACROSS DIMS (``acc = acc + A[:, d] * B[:, d]``).  Sequential-fold
    order is what keeps the bits identical to the engine-side fold and
    to DuckDB's ``list_dot_product``.  This collapses the Catalyst
    expression tree to O(1) nodes per vector op — measured on the
    64-dim bench corpus: ivf_ann 8.3s plan-build + 5.9s compile + 3.3s
    exec with expression trees vs ~1s end-to-end with the UDF —
    plan analysis, Janino compile, and interpreted-HOF row costs all
    disappear, and the numpy work is microseconds per batch.
  - **Unrolled codegen expressions** (``dot(a, b, dims=...)``,
    ``with_norm(df, ..., dims=...)``): flat left-associative sums of
    ``element_at`` terms — plain arithmetic inside whole-stage codegen.
    Fastest steady-state per row, but plan size grows O(dims) per use:
    with many inlined vectors the analysis + Janino cost dominates
    (and >~512 terms in one method trips Janino's 64KB limit).
  - **Higher-order functions** (``dot`` / ``with_norm`` without
    ``dims``): O(1) plan size but HOFs are CodegenFallback in Spark
    (interpreted per row, ~3x slower exec than unrolled).

All three fold strictly left-to-right from 0.0, so they are
bit-identical: ((0+x1)+x2)+... either way.  float32→float64 widening
is exact, so lifting the raw array<float> column in numpy equals the
engine's per-element cast-to-double.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _flat_sum(terms):
    """Left-associative sum starting at 0.0 — the exact fp order of
    F.aggregate's sequential fold, but as a codegen-able expression."""
    acc = F.lit(0.0)
    for t in terms:
        acc = acc + t
    return acc


def with_norm(
    df: DataFrame, vec_col: str, out_col: str = "norm", dims: int | None = None
) -> DataFrame:
    """Attach the L2 norm of a vector column (one map-only pass).

    With ``dims`` the sum of squares is unrolled (codegen); without,
    it falls back to the interpreted aggregate HOF.  Same fp bits."""
    if dims is not None:
        e = [F.element_at(F.col(vec_col), d + 1).cast("double") for d in range(dims)]
        sq = _flat_sum(x * x for x in e)
    else:
        v = _as_double(F.col(vec_col))
        sq = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    return df.withColumn(out_col, F.sqrt(sq))


def dot(a, b, dims: int | None = None):
    """Sequential-fold dot product of two array<double> columns.

    Unrolled into a flat codegen expression when ``dims`` is known;
    identical result bits either way (left-to-right fold)."""
    if dims is not None:
        return _flat_sum(
            F.element_at(a, d + 1) * F.element_at(b, d + 1) for d in range(dims)
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


# ---------------------------------------------------------------------------
# Arrow-vectorized sequential folds (numpy; vectorized across rows,
# ordered across dims — bit-identical to the engine/DuckDB folds).
# ---------------------------------------------------------------------------


def _np_rows(series: pd.Series) -> np.ndarray:
    """(N, dims) float64 matrix from one Arrow batch of an array column.

    float32 -> float64 widening is exact: identical bits to the
    engine's per-element cast-to-double."""
    if len(series) == 0:
        return np.zeros((0, 0), np.float64)
    return np.vstack(series.to_numpy()).astype(np.float64)


def _np_fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot of two (N, d) matrices, folding sequentially over
    dims from 0.0 — NOT np.einsum/np.dot (pairwise/BLAS summation would
    change the low bits and break oracle hash-parity)."""
    acc = np.zeros(A.shape[0], np.float64)
    for d in range(A.shape[1]):
        acc = acc + A[:, d] * B[:, d]
    return acc


def _np_fold_dot_w(A: np.ndarray, w: list[float]) -> np.ndarray:
    """Row-wise dot of an (N, d) matrix with one literal weight vector,
    same sequential fold order."""
    acc = np.zeros(A.shape[0], np.float64)
    for d in range(A.shape[1]):
        acc = acc + A[:, d] * w[d]
    return acc


def _np_signatures(A: np.ndarray, weights: list[list[float]]) -> np.ndarray:
    """(N,) array of signature strings: bit p = sign(w_p . v)."""
    bits = [
        np.where(_np_fold_dot_w(A, w) >= 0.0, "1", "0") for w in weights
    ]
    sig = bits[0]
    for b in bits[1:]:
        sig = np.char.add(sig, b)
    return sig


def _pd_dot(a_col, b_col, single_eval: bool = False):
    """cos-numerator column: sequential-fold dot of two vector columns
    via one Arrow-batched pandas UDF (plan stays O(1) nodes).

    ``single_eval=True`` marks the UDF non-deterministic so the
    optimizer cannot clone it below a pushed-down filter (guide §4.4:
    a filter on the UDF's output otherwise plans TWO ArrowEvalPython
    nodes — every surviving row pays the dot twice).  Values are
    identical either way; use it at call sites whose result feeds a
    filter, not blanket (non-determinism also blocks legitimate
    reorderings of other predicates)."""

    @pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(_np_fold_dot(_np_rows(a), _np_rows(b)))

    if single_eval:
        _dot = _dot.asNondeterministic()
    return _dot(a_col, b_col)


def _pd_norm(col):
    """L2-norm column via the same Arrow fold (sqrt is correctly
    rounded in IEEE — same bits as the engine's sqrt)."""

    @pandas_udf("double")
    def _norm(v: pd.Series) -> pd.Series:
        A = _np_rows(v)
        return pd.Series(np.sqrt(_np_fold_dot(A, A)))

    return _norm(col)


def _python_norm(values: list[float]) -> float:
    """Driver-side norm of one collected vector: python left-assoc
    double sum == the engine's sequential fold bit-for-bit (both
    IEEE-754 doubles, same operation order)."""
    s = 0.0
    for x in values:
        s += x * x
    return math.sqrt(s)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Exact brute-force cosine top-k neighbors for each query vector.

    BOUND CONTRACT: ``queries`` is collected to the driver and inlined
    into the scoring UDF, so it must fit in driver memory AND in the
    serialized task closure — thousands of probe vectors, not millions
    (Q x dim doubles; ~1k 1024-dim probes = 8 MB).  An unbounded query
    side belongs in :func:`knn_graph` (shuffle self-join), never here.
    Scoring is one map-only pass over the
    corpus: each Arrow batch is scored against ALL query vectors at
    once (numpy sequential folds), yielding an array of cosines that is
    posexploded to (q_id, neighbor_id, cos_sim) rows; top-k per query
    via window.  Output ordered by (rounded cos desc, id asc).
    """
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return corpus.select(
            F.col(id_col).alias("q_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("cos_sim"),
        ).filter(F.lit(False))
    q_ids = [r[id_col] for r in qrows]
    qvecs = [[float(x) for x in r[vec_col]] for r in qrows]
    qnorms = [_python_norm(qv) for qv in qvecs]

    @pandas_udf("array<double>")
    def _cos_all(v: pd.Series) -> pd.Series:
        A = _np_rows(v)
        cn = np.sqrt(_np_fold_dot(A, A))
        cols = [
            _np_fold_dot_w(A, qv) / (qn * cn) for qv, qn in zip(qvecs, qnorms)
        ]
        return pd.Series(list(np.stack(cols, axis=1)))

    scored = corpus.select(
        F.col(id_col).alias("neighbor_id"), _cos_all(F.col(vec_col)).alias("__cs")
    )
    exploded = (
        scored.select(
            "neighbor_id", F.posexplode("__cs").alias("__pos", "__cos")
        )
        .select(
            F.element_at(F.lit(q_ids), F.col("__pos") + 1).alias("q_id"),
            "neighbor_id",
            F.round(F.col("__cos"), round_digits).alias("cos_sim"),
        )
        .filter(F.col("q_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        exploded.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "neighbor_id", "cos_sim")
    )


def _plane_weights(planes: int, dims: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane weights.

    weight(p, d) = (int(md5(f"{p}:{d}")[:8], 16) % 2001 - 1000) / 1000
    — same derivation as an in-engine md5 expression would produce, but
    computed once at plan-build time instead of per row."""
    return [
        [
            (int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
            / 1000.0
            for d in range(dims)
        ]
        for p in range(planes)
    ]


def hyperplane_signature(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    dims: int = 64,
    out_col: str = "bucket",
) -> DataFrame:
    """Random-hyperplane LSH signature (deterministic).

    The signature bit for plane p is sign(w_p . v).  Map-only — the
    100 TB scale path buckets the corpus without any shuffle, then ANN
    search joins query buckets to corpus buckets.
    """
    weights = _plane_weights(planes, dims)

    @pandas_udf("string")
    def _sig(v: pd.Series) -> pd.Series:
        A = _np_rows(v)
        return pd.Series(_np_signatures(A, weights))

    return df.withColumn(out_col, _sig(F.col(vec_col)))


def lsh_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    k: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate nearest neighbors: exact cosine top-k within the
    query's LSH bucket.  Bucket join replaces the cross product — the
    scale path for corpus sizes where brute force is off the table."""
    dims = len(queries.select(vec_col).first()[0])
    weights = _plane_weights(planes, dims)

    @pandas_udf("struct<norm:double, bucket:string>")
    def _sig_norm(v: pd.Series) -> pd.DataFrame:
        A = _np_rows(v)
        return pd.DataFrame(
            {
                "norm": np.sqrt(_np_fold_dot(A, A)),
                "bucket": _np_signatures(A, weights),
            }
        )

    def side(df: DataFrame, out_id: str, vpfx: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(f"{vpfx}v"),
            _sig_norm(F.col(vec_col)).alias("__s"),
        ).select(
            out_id,
            f"{vpfx}v",
            F.col("__s.norm").alias(f"{vpfx}n"),
            F.col("__s.bucket").alias("bucket"),
        )

    c = side(corpus, "neighbor_id", "__c")
    q = side(queries, "q_id", "__q")
    pairs = c.join(F.broadcast(q), on="bucket").filter(
        F.col("q_id") != F.col("neighbor_id")
    )
    scored = pairs.withColumn(
        "cos_sim",
        F.round(
            _pd_dot(F.col("__qv"), F.col("__cv"))
            / (F.col("__qn") * F.col("__cn")),
            round_digits,
        ),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "neighbor_id", "cos_sim")
    )


def multitable_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    tables: int,
    planes: int,
    dims: int,
) -> DataFrame:
    """(id, table, sig) rows: one hyperplane signature per hash table.

    All tables draw from one deterministic plane family (table t uses
    planes t*planes .. t*planes+planes-1), so results are reproducible
    and an oracle can inline the same literal weights.  One Arrow pass
    computes every table's signature, posexplode fans them out —
    map-only, no shuffle; the downstream bucket join shuffles on
    (table, sig), whose cardinality the caller controls via ``planes``.
    """
    weights = _plane_weights(tables * planes, dims)

    @pandas_udf("array<string>")
    def _sigs(v: pd.Series) -> pd.Series:
        A = _np_rows(v)
        per_table = [
            _np_signatures(A, weights[t * planes : (t + 1) * planes])
            for t in range(tables)
        ]
        return pd.Series(list(np.stack(per_table, axis=1)))

    return df.select(
        F.col(id_col), F.posexplode(_sigs(F.col(vec_col))).alias("table_id", "sig")
    )


def embed_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    tables: int = 4,
    planes: int = 6,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the embedding member of
    the dedup family (exact / n-gram / MinHash-LSH / SimHash / this).

    Scale shape: candidates come from a multi-table random-hyperplane
    LSH bucket join (never all-pairs); exact cosine is verified only on
    the distinct candidate set, so verification work scales with
    near-dup density, not corpus size^2.  Recall < 1 by design (the
    standard LSH trade: more tables / fewer planes per table => higher
    recall, bigger buckets).  Output: (id_1, id_2, cos_sim) with
    id_1 < id_2 and rounded cos_sim >= threshold.
    """
    dims = len(corpus.select(vec_col).first()[0])
    # ONE Arrow pass computes every table's signature AND the vector
    # norm, materialized once (r12): the self-join's two sides and the
    # two verify sides below would otherwise each re-run the corpus
    # scan + Python evaluation (the before-plan showed 4 ArrowEvalPython
    # nodes for 2 distinct functions — an opaque UDF defeats subtree
    # reuse).  The checkpoint is the standing signature table a
    # deployment would keep materialized next to the vectors.
    weights = _plane_weights(tables * planes, dims)

    @pandas_udf("struct<sigs:array<string>, norm:double>")
    def _sigs_norm(v: pd.Series) -> pd.DataFrame:
        A = _np_rows(v)
        per_table = [
            _np_signatures(A, weights[t * planes : (t + 1) * planes])
            for t in range(tables)
        ]
        return pd.DataFrame(
            {
                "sigs": list(np.stack(per_table, axis=1)),
                "norm": np.sqrt(_np_fold_dot(A, A)),
            }
        )

    base = (
        corpus.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            _sigs_norm(F.col(vec_col)).alias("__s"),
        )
        .select(
            "__id",
            "__v",
            F.col("__s.sigs").alias("__sigs"),
            F.col("__s.norm").alias("__n"),
        )
        .localCheckpoint(eager=True)
    )
    tagged = base.select(
        F.col("__id"),
        F.posexplode("__sigs").alias("table_id", "sig"),
    )
    a = tagged.select(F.col("__id").alias("id_1"), "table_id", "sig")
    b = tagged.select(F.col("__id").alias("id_2"), "table_id", "sig")
    cands = (
        a.join(b, on=["table_id", "sig"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )
    va = base.select(
        F.col("__id").alias("id_1"), F.col("__v").alias("__v1"), F.col("__n").alias("__n1")
    )
    vb = base.select(
        F.col("__id").alias("id_2"), F.col("__v").alias("__v2"), F.col("__n").alias("__n2")
    )
    return (
        cands.join(va, "id_1")
        .join(vb, "id_2")
        .withColumn(
            "cos_sim",
            F.round(
                _pd_dot(F.col("__v1"), F.col("__v2"), single_eval=True)
                / (F.col("__n1") * F.col("__n2")),
                round_digits,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_1", "id_2", "cos_sim")
    )


def _np_fold_dot_sub(A: np.ndarray, lo: int, hi: int, w: list[float] | None = None):
    """Sequential-fold dot over dims [lo, hi) of an (N, d) matrix —
    with itself (w=None) or with one literal vector.  Fold order is the
    one DuckDB's list_dot_product uses on the sliced list, so encode
    distances are bit-identical to the oracle's."""
    acc = np.zeros(A.shape[0], np.float64)
    for d in range(lo, hi):
        acc = acc + A[:, d] * (A[:, d] if w is None else w[d - lo])
    return acc


def _python_dot(a: list[float], b: list[float]) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def default_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    subspaces: int = 4,
    codebook_size: int = 8,
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: the ``codebook_size`` lowest-id
    corpus vectors, sliced per subspace — the same "training sample"
    convention as :func:`ivf_ann`'s coarse quantizer.
    ``codebooks[m][j]`` is the j-th centroid of subspace m."""
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(codebook_size)
        .collect()
    )
    vecs = [[float(x) for x in r[vec_col]] for r in rows]
    dims = len(vecs[0])
    if dims % subspaces:
        raise ValueError(f"dims {dims} not divisible by {subspaces} subspaces")
    sub = dims // subspaces
    return [
        [v[m * sub : (m + 1) * sub] for v in vecs] for m in range(subspaces)
    ]


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Product-quantization encoding: each vector becomes ``M`` small
    codes (argmin squared-L2 codebook entry per subspace).

    This is the PQ compression step: at 100 TB an M-byte code column
    replaces the raw vectors for candidate scoring (64x smaller at
    64 dims / 4 subspaces), and encoding is MAP-ONLY — one Arrow pass,
    no shuffle.  d2 is computed as (v.v - 2 v.c) + c.c with sequential
    folds so the argmin comparisons match the DuckDB oracle bit for
    bit; np.argmin's first-occurrence rule = ties to the lowest code.
    """
    M = len(codebooks)
    sub = len(codebooks[0][0])
    cc = [[_python_dot(c, c) for c in codebooks[m]] for m in range(M)]

    @pandas_udf("array<int>")
    def _enc(v: pd.Series) -> pd.Series:
        A = _np_rows(v)
        codes = []
        for m in range(M):
            lo, hi = m * sub, (m + 1) * sub
            aa = _np_fold_dot_sub(A, lo, hi)
            d2 = np.stack(
                [
                    (aa - 2.0 * _np_fold_dot_sub(A, lo, hi, c)) + c2
                    for c, c2 in zip(codebooks[m], cc[m])
                ],
                axis=1,
            )
            codes.append(np.argmin(d2, axis=1).astype(np.int32))
        return pd.Series(list(np.stack(codes, axis=1)))

    return corpus.withColumn(out_col, _enc(F.col(vec_col)))


#: injected-``encoded`` frames already validated this session, each
#: mapped to the ``(code_col, subspaces, codebook_size)`` tuples it
#: passed for (weak identity keys — session_cached hands every caller
#: the SAME frame object, so the one-row probe below runs once per
#: session and parameter set, not per search).  Guards the r12 ADVICE
#: hole: a caller injecting a table encoded with DIFFERENT
#: codebooks/subspaces silently returned wrong neighbors instead of
#: erroring — and a frame that passed for one parameter set must be
#: probed again before it serves another.
_ENCODED_VALIDATED: "weakref.WeakKeyDictionary" = None  # type: ignore[assignment]


def _validate_encoded(
    encoded: DataFrame,
    code_col: str,
    subspaces: int,
    codebook_size: int,
    required_cols: tuple[str, ...],
) -> None:
    """Cheap consistency guard for an injected encoded table: required
    columns present (schema-only) and a one-row probe that the codes
    array length matches ``subspaces`` with every code inside the
    codebook range.  Catches the mismatched-table contract violations
    that matter (wrong subspaces, wrong codebook_size, wrong column
    set); identical-shape different-VALUE codebooks remain the
    caller's contract, as documented at the injection seams."""
    global _ENCODED_VALIDATED  # noqa: PLW0603 — lazy init, weakref set
    import weakref  # noqa: PLC0415

    if _ENCODED_VALIDATED is None:
        _ENCODED_VALIDATED = weakref.WeakKeyDictionary()
    missing = [c for c in required_cols if c not in encoded.columns]
    if missing:
        raise ValueError(
            f"injected encoded table is missing columns {missing}; "
            f"expected {list(required_cols)}"
        )
    params = (code_col, subspaces, codebook_size)
    try:
        if params in _ENCODED_VALIDATED.get(encoded, ()):
            return
    except TypeError:  # unhashable/unweakrefable frame: probe each call
        pass
    row = encoded.select(code_col).first()
    if row is not None:
        codes = row[0]
        n = len(codes) if codes is not None else None
        if n != subspaces:
            raise ValueError(
                f"injected encoded table's {code_col!r} has length {n}, "
                f"but this search uses subspaces={subspaces} — the table "
                "was encoded with different PQ parameters"
            )
        if any(c < 0 or c >= codebook_size for c in codes):
            raise ValueError(
                f"injected encoded table's {code_col!r} holds codes "
                f"outside [0, {codebook_size}) — the table was encoded "
                "with a different codebook_size"
            )
    try:
        _ENCODED_VALIDATED.setdefault(encoded, set()).add(params)
    except TypeError:
        pass


def pq_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    subspaces: int = 4,
    codebook_size: int = 8,
    k: int = 3,
    round_digits: int = 6,
    codebooks: list[list[list[float]]] | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN via asymmetric distance computation —
    the memory-bound member of the ANN family (brute force / LSH / IVF
    / this): approximate squared L2 = sum over subspaces of the exact
    distance from the query subvector to the corpus code's centroid.

    Scale shape: the corpus is scanned ONCE to encode (map-only), and
    scoring reads only the code column — the per-query lookup tables
    (M x codebook_size doubles) are built driver-side from the bounded
    query set and inlined, so scoring is also map-only; the only
    shuffle is the final per-query top-k window, whose input is
    Q x corpus rows of (id, id, double).  Output: (q_id, neighbor_id,
    approx_d2) top-k per query, smallest distance first, ties to the
    lowest neighbor id on the ROUNDED distance (so rank order is
    insensitive to sub-ulp engine drift).

    BOUND CONTRACT: ``queries`` is collected driver-side to build the
    per-query LUTs (Q x M x codebook_size doubles, inlined into the
    task closure) — a bounded probe set, thousands not millions; an
    unbounded query side belongs in :func:`knn_graph`.
    """
    if codebooks is None:
        codebooks = default_codebooks(
            corpus, id_col, vec_col, subspaces, codebook_size
        )
    M = len(codebooks)
    sub = len(codebooks[0][0])
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return corpus.select(
            F.col(id_col).alias("q_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("approx_d2"),
        ).filter(F.lit(False))
    q_ids = [r[id_col] for r in qrows]
    # LUT[q][m][j]: exact d2 from query q's subvector m to codebook
    # entry j, same (aa - 2ab) + cc fold as the encoder
    luts = []
    for r in qrows:
        qv = [float(x) for x in r[vec_col]]
        lut = np.zeros((M, len(codebooks[0])), np.float64)
        for m in range(M):
            qs = qv[m * sub : (m + 1) * sub]
            aa = _python_dot(qs, qs)
            for j, c in enumerate(codebooks[m]):
                lut[m][j] = (aa - 2.0 * _python_dot(qs, c)) + _python_dot(c, c)
        luts.append(lut)

    @pandas_udf("array<double>")
    def _adc(codes: pd.Series) -> pd.Series:
        K = np.vstack(codes.to_numpy()).astype(np.int64)  # (N, M)
        outs = []
        for lut in luts:
            acc = lut[0][K[:, 0]]
            for m in range(1, M):
                acc = acc + lut[m][K[:, m]]
            outs.append(acc)
        return pd.Series(list(np.stack(outs, axis=1)))

    if encoded is None:
        # ``encoded``: callers holding a materialized (neighbor_id,
        # pq_codes) table — built by pq_encode with the SAME codebooks
        # (the caller's contract) — inject it here so the map-only
        # corpus encode runs once per session instead of per search
        # (r12; a deployment encodes at ingest and serves from codes)
        encoded = pq_encode(corpus, codebooks, vec_col).select(
            F.col(id_col).alias("neighbor_id"), F.col("pq_codes")
        )
    else:
        # r13 (ADVICE): shape-validate the injection once per session —
        # same-shape different-value codebooks stay the caller's
        # contract, but wrong subspaces / codebook_size / columns now
        # error instead of silently returning wrong neighbors
        _validate_encoded(
            encoded, "pq_codes", M, len(codebooks[0]),
            ("neighbor_id", "pq_codes"),
        )
    exploded = (
        encoded.select(
            "neighbor_id", F.posexplode(_adc(F.col("pq_codes"))).alias("__pos", "__d2")
        )
        .select(
            F.element_at(F.lit(q_ids), F.col("__pos") + 1).alias("q_id"),
            "neighbor_id",
            F.round(F.col("__d2"), round_digits).alias("approx_d2"),
        )
        .filter(F.col("q_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        exploded.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "neighbor_id", "approx_d2")
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 5,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means coarse quantizer training for :func:`ivf_ann`.

    Init = the ``k`` lowest-id corpus vectors (deterministic seeding).
    Each iteration: (1) map-only nearest-centroid assignment via an
    Arrow-batched UDF (squared-L2 argmin, vectorized), (2) per-cell
    per-dim means via posexplode + groupBy(cell, pos) — one partial-agg
    shuffle of (k x dims) cardinality, independent of corpus size.
    Only the k x dims mean matrix is collected per iteration.

    NOTE: per-dim means sum doubles in partition order, so trained
    centroid values are NOT bit-reproducible across runs (standard
    float-reduction caveat); the returned structure is deterministic in
    shape.  Use the default lowest-id quantizer when bit-reproducible
    results are required.  Returns [(cell_id 0..k-1, vector)].
    """
    init = [
        [float(x) for x in r[vec_col]]
        for r in corpus.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    ]
    cents = np.array(init, dtype=np.float64)
    dims = cents.shape[1]
    for _ in range(iterations):
        C = cents.copy()

        @pandas_udf("int")
        def _nearest(v: pd.Series) -> pd.Series:
            A = _np_rows(v)
            # squared L2 via |v|^2 - 2 v.c + |c|^2; argmin first-wins
            d2 = (
                (A * A).sum(axis=1, keepdims=True)
                - 2.0 * A @ C.T
                + (C * C).sum(axis=1)
            )
            return pd.Series(np.argmin(d2, axis=1).astype(np.int32))

        means = (
            corpus.select(
                _nearest(F.col(vec_col)).alias("cell"),
                F.posexplode(F.col(vec_col)).alias("pos", "val"),
            )
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        nxt = cents.copy()  # empty cells keep their previous centroid
        for row in means:
            nxt[row["cell"]][row["pos"]] = row["m"]
        cents = nxt
    return [(i, [float(x) for x in cents[i]]) for i in range(k)]


def ivf_corpus_cells(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """The (id, vec, __norm, __cell) nearest-centroid assignment of
    every corpus vector — the IVF inverted file as a frame, split out
    of :func:`ivf_ann` so a query family can materialize it ONCE and
    serve both the flat and multi-probe searches from the same
    assignment (r12).  Same deterministic quantizer and tie rule as
    ivf_ann (np.argmax first-occurrence == strict-max fold, ties to
    the lowest centroid id); map-only, no shuffle."""
    if centroids is None:
        centroids = [
            (r[id_col], [float(x) for x in r[vec_col]])
            for r in corpus.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(n_centroids)
            .collect()
        ]
    cvecs = [cv for _, cv in centroids]
    cnorms = [_python_norm(cv) for cv in cvecs]
    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)

    @pandas_udf("struct<norm:double, cell:bigint>")
    def _assign(v: pd.Series) -> pd.DataFrame:
        A = _np_rows(v)
        nrm = np.sqrt(_np_fold_dot(A, A))
        cos = np.stack(
            [
                _np_fold_dot_w(A, cv) / (cn * nrm)
                for cv, cn in zip(cvecs, cnorms)
            ],
            axis=1,
        )
        return pd.DataFrame({"norm": nrm, "cell": cids[np.argmax(cos, axis=1)]})

    return corpus.select(
        id_col, vec_col, _assign(F.col(vec_col)).alias("__a")
    ).select(
        id_col,
        vec_col,
        F.col("__a.norm").alias("__norm"),
        F.col("__a.cell").alias("__cell"),
    )


def ivf_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    k: int = 3,
    round_digits: int = 6,
    nprobe: int = 1,
    centroids: list[tuple[int, list[float]]] | None = None,
    corpus_cells: DataFrame | None = None,
    query_cells: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate nearest neighbors (the inverted-file
    alternative to the hyperplane-LSH path in :func:`lsh_ann`).

    Coarse quantizer: the ``n_centroids`` lowest-id corpus vectors —
    a deterministic "training sample" — or pass ``centroids`` (e.g.
    from :func:`kmeans_centroids`) to plug trained ones into the same
    plan.  Every corpus vector is assigned to its nearest centroid by
    cosine — np.argmax's first-occurrence rule is the same "first max
    wins" as a strict-max fold, i.e. ties break to the lowest centroid
    id.  Queries probe their ``nprobe`` nearest cells (multi-probe
    trades extra bucket-join fan-out for recall — the standard IVF
    knob); search is exact cosine within the probed cells.

    Scale shape: the centroid table is collected once (O(n_centroids)
    driver data) and inlined into the assignment UDF, so corpus
    assignment is MAP-ONLY — no shuffle to build the inverted file;
    the probe is a bucket join on cell id exactly like the LSH path,
    with query-side fan-out x nprobe (queries are the broadcast side,
    so fan-out never touches the corpus shuffle).  Output: (q_id,
    neighbor_id, cos_sim) top-k per query, ties broken by neighbor id.

    ``corpus_cells`` / ``query_cells``: already-assigned
    :func:`ivf_corpus_cells` frames (same corpus/params) — a query
    family materializes the inverted file once per session and both
    the flat and multi-probe searches skip the per-call assignment
    pass (query_cells applies to nprobe=1 only; the caller asserts
    its queries are the claimed subset of the assigned frame).
    """
    need_centroids = corpus_cells is None or nprobe > 1 or (
        nprobe <= 1 and query_cells is None
    )
    if centroids is None and need_centroids:
        centroids = [
            (r[id_col], [float(x) for x in r[vec_col]])
            for r in corpus.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(n_centroids)
            .collect()
        ]

    if corpus_cells is None:
        corpus_cells = ivf_corpus_cells(
            corpus, id_col, vec_col, n_centroids, centroids
        )
    c = corpus_cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.col("__norm").alias("__cn"),
        F.col("__cell").alias("cell"),
    )
    if nprobe <= 1:
        qc = (
            query_cells
            if query_cells is not None
            else ivf_corpus_cells(
                queries, id_col, vec_col, n_centroids, centroids
            )
        )
        q = qc.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("__qv"),
            F.col("__norm").alias("__qn"),
            F.col("__cell").alias("cell"),
        )
    else:
        cvecs = [cv for _, cv in centroids]
        cnorms = [_python_norm(cv) for cv in cvecs]
        cids = np.array([cid for cid, _ in centroids], dtype=np.int64)

        @pandas_udf("struct<norm:double, cells:array<bigint>>")
        def _probe(v: pd.Series) -> pd.DataFrame:
            A = _np_rows(v)
            nrm = np.sqrt(_np_fold_dot(A, A))
            cos = np.stack(
                [
                    _np_fold_dot_w(A, cv) / (cn * nrm)
                    for cv, cn in zip(cvecs, cnorms)
                ],
                axis=1,
            )
            # stable argsort on -cos keeps original index order on
            # ties = lowest centroid id first (same rule as the
            # corpus argmax)
            order = np.argsort(-cos, axis=1, kind="stable")[:, :nprobe]
            return pd.DataFrame({"norm": nrm, "cells": list(cids[order])})

        q = queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("__qv"),
            _probe(F.col(vec_col)).alias("__a"),
        ).select(
            "q_id",
            "__qv",
            F.col("__a.norm").alias("__qn"),
            F.explode("__a.cells").alias("cell"),
        )
    pairs = c.join(F.broadcast(q), on="cell").filter(
        F.col("q_id") != F.col("neighbor_id")
    )
    scored = pairs.withColumn(
        "cos_sim",
        F.round(
            _pd_dot(F.col("__qv"), F.col("__cv"))
            / (F.col("__qn") * F.col("__cn")),
            round_digits,
        ),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "neighbor_id", "cos_sim")
    )


def knn_graph(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    k: int = 3,
    round_digits: int = 6,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the whole corpus —
    every vector gets its top-k neighbors, the substrate for semantic
    dedup, clustering, and diversity sampling over a training corpus.

    Differs from :func:`ivf_ann` in the join topology: there the probe
    set is small and BROADCAST against the partitioned inverted file;
    here both sides are the full corpus, so the plan is a map-only
    cell assignment (centroids inlined, same rule as ivf_ann) followed
    by ONE shuffle keyed by cell into a grouped scorer: each cell's
    members meet on one executor, where applyInPandas computes the
    in-cell cosine matrix with vectorized per-dimension accumulation
    and emits only each member's top-k rows.  Every vector crosses the
    wire ONCE — a pair-exploded self-join would ship both vectors per
    candidate pair (O(cell^2 x dims) Arrow traffic, measured 3x the
    whole-query time at bench scale) and score row-at-a-pair instead
    of as one matrix product.

    Scale notes: cell population drives the per-task quadratic term,
    so production sizes ``n_centroids`` ~ sqrt(N) (cells of ~sqrt(N))
    and re-trains with :func:`kmeans_centroids` (pass ``centroids=``)
    when the data is clustered — the 8-lowest-id default here is the
    deterministic oracle-checkable quantizer, not the production one.
    Recall has the usual single-probe IVF caveat: neighbors in
    adjacent cells are missed; raise n_centroids + multi-probe (or
    union with :func:`lsh_ann` buckets) to trade shuffle volume for
    recall.

    Determinism: the per-dimension outer-product accumulation performs
    the IDENTICAL float-add sequence as the per-pair sequential fold
    (``_np_fold_dot``) — dim 0 first, from 0.0 — so scores hash-match
    the DuckDB ``list_dot_product`` oracle; top-k ranks on the rounded
    score with ties to the lowest neighbor id, same as the window it
    replaces.
    """
    if centroids is None:
        centroids = [
            (r[id_col], [float(x) for x in r[vec_col]])
            for r in corpus.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(n_centroids)
            .collect()
        ]
    cvecs = [cv for _, cv in centroids]
    cnorms = [_python_norm(cv) for cv in cvecs]
    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)

    @pandas_udf("struct<norm:double, cell:bigint>")
    def _assign(v: pd.Series) -> pd.DataFrame:
        A = _np_rows(v)
        nrm = np.sqrt(_np_fold_dot(A, A))
        cos = np.stack(
            [
                _np_fold_dot_w(A, cv) / (cn * nrm)
                for cv, cn in zip(cvecs, cnorms)
            ],
            axis=1,
        )
        return pd.DataFrame({"norm": nrm, "cell": cids[np.argmax(cos, axis=1)]})

    assigned = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        _assign(F.col(vec_col)).alias("__a"),
    ).select(
        "__id",
        "__v",
        F.col("__a.norm").alias("__n"),
        F.col("__a.cell").alias("cell"),
    )

    def _cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        A = _np_rows(pdf["__v"])
        ids = pdf["__id"].to_numpy()
        nrm = pdf["__n"].to_numpy()
        m, dims = A.shape
        # per-dimension outer-product accumulation: C[i,j] folds
        # a_i[0]*a_j[0] + a_i[1]*a_j[1] + ... from 0.0 in dim order —
        # float-add for float-add the same sequence as _np_fold_dot
        C = np.zeros((m, m))
        for d in range(dims):
            col = A[:, d].astype(np.float64)
            C += np.outer(col, col)
        cos = np.round(C / np.outer(nrm, nrm), round_digits)
        np.fill_diagonal(cos, -np.inf)  # self never a neighbor
        out_q, out_n, out_c = [], [], []
        take = min(k, m - 1)
        if take > 0:
            # rank: rounded cos desc, neighbor id asc (stable lexsort,
            # last key primary) — identical to the window it replaces
            order = np.lexsort((ids[None, :].repeat(m, 0), -cos), axis=1)
            top = order[:, :take]
            rows = np.arange(m)[:, None].repeat(take, 1)
            out_q = ids[rows.ravel()]
            out_n = ids[top.ravel()]
            out_c = cos[rows.ravel(), top.ravel()]
        return pd.DataFrame(
            {"q_id": out_q, "neighbor_id": out_n, "cos_sim": out_c}
        )

    return assigned.groupBy("cell").applyInPandas(
        _cell_topk, "q_id long, neighbor_id long, cos_sim double"
    )


def semantic_dedup_survivors(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    tables: int = 4,
    planes: int = 6,
    keep_cols: list[str] | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: materialize the vectors
    that survive embedding-space near-dup pruning.

    ``pairs``: an already-materialized frame from
    :func:`embed_near_dup_pairs` with the SAME corpus and parameters
    (callers holding the family's session-cached pair set pass it here
    so the LSH build is not re-derived per consumer — r12, the same
    share the text near-dup family uses).

    Greedy lowest-id-wins rule: a vector is dropped iff its exact
    cosine to some LOWER-id vector sharing an LSH bucket is >=
    threshold (the ``id_2`` side of ``embed_near_dup_pairs``).  The
    rule is deterministic and one-pass — no iterative clustering — and
    the drop set is computed only over LSH-verified candidates, never
    all pairs, so the anti-join's build side scales with near-dup
    density.  Published pattern: SemDeDup (Abbas et al., 2023) prunes
    within k-means clusters; here the deterministic hyperplane buckets
    play the cluster role so an exact SQL oracle exists.
    """
    if pairs is None:
        pairs = embed_near_dup_pairs(
            corpus,
            id_col,
            vec_col,
            threshold=threshold,
            tables=tables,
            planes=planes,
        )
    dropped = pairs.select(F.col("id_2").alias(id_col)).distinct()
    out_cols = [id_col, *(keep_cols or [])]
    return corpus.join(dropped, id_col, "left_anti").select(*out_cols)


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    probe_ids: list[int],
    doc_id: str = "doc_id",
    text_col: str = "text",
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    pool: int = 20,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid retrieval: lexical rank + vector rank fused with
    Reciprocal Rank Fusion (score = Σ 1/(rrf_k + rank)).

    Lexical leg: distinct-token overlap with the probe document —
    probe token sets are tiny and broadcast, candidates come from a
    token-keyed join (an inverted-index probe, never a scan of
    non-matching docs).  Vector leg: exact cosine top-``pool`` via the
    map-only brute-force scorer.  Each leg ranks deterministically
    (score desc, id asc), the legs full-outer-join on the candidate,
    and missing legs contribute 0 — the standard RRF convention.
    rank/overlap are integers and 1/(60+rank) is a single exact
    division, so fusion scores are bit-identical across engines.
    """
    from data_management_python_spark.llmdata.text import tokens

    probes = docs.filter(F.col(doc_id).isin(probe_ids))
    ptoks = probes.select(
        F.col(doc_id).alias("q_id"), F.explode(tokens(text_col)).alias("term")
    ).distinct()
    ctoks = docs.select(
        F.col(doc_id).alias("cand_id"), F.explode(tokens(text_col)).alias("term")
    ).distinct()
    overlap = (
        F.broadcast(ptoks)
        .join(ctoks, "term")
        .filter(F.col("q_id") != F.col("cand_id"))
        .groupBy("q_id", "cand_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    w_lex = Window.partitionBy("q_id").orderBy(
        F.col("n_shared").desc(), F.col("cand_id")
    )
    lex = (
        overlap.withColumn("rank_lex", F.row_number().over(w_lex))
        .filter(F.col("rank_lex") <= pool)
        .select("q_id", "cand_id", "rank_lex")
    )
    vec_top = cosine_topk(
        emb, emb.filter(F.col(vec_id).isin(probe_ids)), vec_id, vec_col, k=pool
    )
    w_vec = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    vec = vec_top.withColumn("rank_vec", F.row_number().over(w_vec)).select(
        "q_id", F.col("neighbor_id").alias("cand_id"), "rank_vec"
    )
    fused = (
        lex.join(vec, ["q_id", "cand_id"], "full_outer")
        .withColumn(
            "rrf",
            F.coalesce(1.0 / (rrf_k + F.col("rank_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (rrf_k + F.col("rank_vec")), F.lit(0.0)),
        )
    )
    w_f = Window.partitionBy("q_id").orderBy(F.col("rrf").desc(), F.col("cand_id"))
    return (
        fused.withColumn("rk", F.row_number().over(w_f))
        .filter(F.col("rk") <= k)
        .select("q_id", "cand_id", "rank_lex", "rank_vec", F.round("rrf", 6).alias("rrf"))
    )


def ann_recall(
    exact: DataFrame, approx: DataFrame, q_col: str = "q_id", n_col: str = "neighbor_id"
) -> DataFrame:
    """Recall@k of an ANN result against the exact top-k — the
    evaluation operator that closes the ANN loop (tune planes/nprobe
    against a measured recall, not a guess).

    Left-join the exact set to the approx set on (query, neighbor);
    both sides are k rows per query, so the join and per-query rollup
    are tiny regardless of corpus size — evaluation cost scales with
    the query sample, never the corpus.
    """
    hits = exact.select(q_col, n_col).join(
        approx.select(q_col, n_col).withColumn("__hit", F.lit(1)),
        [q_col, n_col],
        "left",
    )
    return hits.groupBy(q_col).agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        F.round(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("recall"),
    )


def ivf_pq_encode(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    subspaces: int = 4,
    codebook_size: int = 8,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """The IVF-PQ corpus pass as a standalone frame: ONE map-only
    Arrow evaluation emitting (neighbor_id, cell, codes) — the encoded
    table :func:`ivf_pq_ann` serves from.  Same deterministic
    quantizer (lowest-id centroids, cosine argmax ties to the lowest
    centroid id) and encoder (argmin ties to the lowest code) as the
    inline path; split out (r12) so the encode can be materialized
    once per session/ingest and injected via ``ivf_pq_ann(encoded=)``.
    ``centroids``/``codebooks`` accept the caller's already-collected
    derivations to avoid re-collecting them."""
    if centroids is None:
        cent_rows = (
            corpus.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(n_centroids)
            .collect()
        )
        centroids = [
            (r[id_col], [float(x) for x in r[vec_col]]) for r in cent_rows
        ]
    if codebooks is None:
        codebooks = default_codebooks(
            corpus, id_col, vec_col, subspaces, codebook_size
        )
    cvecs = [cv for _, cv in centroids]
    cnorms = [_python_norm(cv) for cv in cvecs]
    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    M = len(codebooks)
    sub = len(codebooks[0][0])
    cc = [[_python_dot(c, c) for c in codebooks[m]] for m in range(M)]

    # ---- corpus: ONE pass -> (cell, codes), no shuffle -------------
    @pandas_udf("struct<cell:bigint, codes:array<int>>")
    def _cell_and_codes(v: pd.Series) -> pd.DataFrame:
        A = _np_rows(v)
        nrm = np.sqrt(_np_fold_dot(A, A))
        cos = np.stack(
            [
                _np_fold_dot_w(A, cv) / (cn * nrm)
                for cv, cn in zip(cvecs, cnorms)
            ],
            axis=1,
        )
        cells = cids[np.argmax(cos, axis=1)]
        codes = []
        for m in range(M):
            lo, hi = m * sub, (m + 1) * sub
            aa = _np_fold_dot_sub(A, lo, hi)
            d2 = np.stack(
                [
                    (aa - 2.0 * _np_fold_dot_sub(A, lo, hi, c)) + c2
                    for c, c2 in zip(codebooks[m], cc[m])
                ],
                axis=1,
            )
            codes.append(np.argmin(d2, axis=1).astype(np.int32))
        return pd.DataFrame(
            {"cell": cells, "codes": list(np.stack(codes, axis=1))}
        )

    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _cell_and_codes(F.col(vec_col)).alias("__e"),
    ).select(
        "neighbor_id",
        F.col("__e.cell").alias("cell"),
        F.col("__e.codes").alias("codes"),
    )


def ivf_pq_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    subspaces: int = 4,
    codebook_size: int = 8,
    k: int = 3,
    nprobe: int = 1,
    round_digits: int = 6,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ANN — the FAISS-style composition of the inverted file
    (:func:`ivf_ann`) and product quantization (:func:`pq_ann`), and
    the shape that actually serves 100 TB vector corpora: the corpus
    is read in ONE map-only pass that emits (cell, pq_codes) — 8 bytes
    of codes instead of the raw vector — and scoring touches only the
    candidates inside the probed cells, by LUT lookups, never the
    vector column.

    Determinism matches the component operators exactly: centroids and
    codebooks are the lowest-id corpus vectors, assignment ties break
    to the lowest centroid id (strict-max fold), encode argmin ties to
    the lowest code, rank on the ROUNDED ADC distance with neighbor-id
    tie-break — so a SQL oracle reproduces the result bit-for-bit.

    BOUND CONTRACT: ``queries`` is collected driver-side (probes +
    LUTs inlined into the task closure) — a bounded probe set,
    thousands not millions; an unbounded query side belongs in
    :func:`knn_graph`.

    The query set is bounded (collected; probes + LUTs are driver
    arithmetic over n_queries x n_centroids / codebook entries), the
    corpus is never collected.
    """
    cent_rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
    )
    centroids = [(r[id_col], [float(x) for x in r[vec_col]]) for r in cent_rows]
    codebooks = default_codebooks(
        corpus, id_col, vec_col, subspaces, codebook_size
    )
    cvecs = [cv for _, cv in centroids]
    cnorms = [_python_norm(cv) for cv in cvecs]
    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    M = len(codebooks)
    sub = len(codebooks[0][0])

    if encoded is not None:
        # ``encoded``: callers holding the materialized
        # (neighbor_id, cell, codes) table — built by ivf_pq_encode
        # with the same parameters — inject it so the map-only corpus
        # pass runs once per session instead of per search (r12; a
        # deployment encodes at ingest and serves from codes).
        # r13 (ADVICE): shape-validate the injection once per session
        # so wrong subspaces / codebook_size / columns error instead
        # of silently returning wrong neighbors.
        _validate_encoded(
            encoded, "codes", M, codebook_size,
            ("neighbor_id", "cell", "codes"),
        )
        enc = encoded
    else:
        enc = ivf_pq_encode(
            corpus, id_col, vec_col,
            centroids=centroids, codebooks=codebooks,
        )

    # ---- queries: driver-side probes + LUTs ------------------------
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return enc.select(
            F.col("neighbor_id").alias("q_id"),
            "neighbor_id",
            F.lit(0.0).alias("approx_d2"),
        ).filter(F.lit(False))
    spark = corpus.sparkSession
    probe_rows = []
    luts: dict[int, np.ndarray] = {}
    for r in qrows:
        qv = [float(x) for x in r[vec_col]]
        qn = _python_norm(qv)
        cos = [
            _python_dot(qv, cv) / (cn * qn) for cv, cn in zip(cvecs, cnorms)
        ]
        # stable sort on -cos: ties to the lowest centroid id, same
        # rule as the corpus-side argmax
        order = sorted(range(len(cos)), key=lambda i: (-cos[i], i))[:nprobe]
        for i in order:
            probe_rows.append((r[id_col], int(cids[i])))
        lut = np.zeros((M, codebook_size), np.float64)
        for m in range(M):
            qs = qv[m * sub : (m + 1) * sub]
            aa = _python_dot(qs, qs)
            for j, c in enumerate(codebooks[m]):
                lut[m][j] = (aa - 2.0 * _python_dot(qs, c)) + _python_dot(c, c)
        luts[r[id_col]] = lut
    probes = spark.createDataFrame(probe_rows, f"q_id long, cell long")

    @pandas_udf("double")
    def _adc(q_id: pd.Series, codes: pd.Series) -> pd.Series:
        K = np.vstack(codes.to_numpy()).astype(np.int64)
        Q = q_id.to_numpy()
        out = np.zeros(len(K), np.float64)
        for qid in np.unique(Q):
            mask = Q == qid
            lut = luts[int(qid)]
            acc = lut[0][K[mask, 0]]
            for m in range(1, M):
                acc = acc + lut[m][K[mask, m]]
            out[mask] = acc
        return pd.Series(out)

    pairs = enc.join(F.broadcast(probes), on="cell").filter(
        F.col("q_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "q_id",
        "neighbor_id",
        F.round(_adc(F.col("q_id"), F.col("codes")), round_digits).alias(
            "approx_d2"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "neighbor_id", "approx_d2")
    )


def kcenter_select(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    literal_max_terms: int = 4096,
) -> DataFrame:
    """Greedy k-center (farthest-point) diversity selection: seed with
    the lowest id, then k-1 rounds of "pick the point farthest from
    every chosen center" — the classic 2-approximation to the k-center
    cover, and the diversity-aware subset selector a training-data
    pipeline uses where random sampling over-picks dense clusters.

    Scale shape: driver state is O(k x d); each round is ONE map-only
    pass computing the min squared distance to the chosen set plus a
    1-row TakeOrdered argmax, so the total cost is k scans with no
    lineage growth, no join, and no shuffle.  Below
    ``literal_max_terms`` chosen-set doubles (k x d), the centers
    travel as plan LITERALS in a codegen'd expression; past it, the
    same computation switches to an Arrow-batched pandas UDF whose
    closure carries the centers as a numpy matrix — an O(k x d) plan
    would otherwise blow up analysis/codegen at k=1000 (task-closure
    broadcast keeps the plan O(1)).  Per-center distances are ROUNDED
    to 6 places (HALF_UP away from zero — replicated in numpy, which
    natively rounds half-to-even) before the min/argmax (ties then
    break on id), the repo's standard engine-boundary discipline, so
    the greedy trajectory is stable across engines AND across the two
    physical paths (pinned by test).

    Returns (selection_order, vec_id, min_dist_sq) — min_dist_sq is
    the distance to the previously-chosen set at selection time (the
    coverage radius sequence; 0.0 for the seed).
    """
    spark = vectors.sparkSession
    v = vectors.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    nrm2 = F.aggregate(F.col("__v"), F.lit(0.0), lambda acc, x: acc + x * x)
    # persist for the k scans (each round re-reading + re-projecting
    # the source measured ~2x the loop cost at sf0.1); safe to
    # unpersist before returning because the RESULT is a driver-local
    # frame built from `chosen` — nothing downstream references v
    v = v.withColumn("__n2", nrm2).persist()
    seed = v.orderBy(id_col).limit(1).collect()
    if not seed:
        v.unpersist()
        return spark.createDataFrame(
            [], f"selection_order int, {id_col} long, min_dist_sq double"
        )
    chosen = [(int(seed[0][id_col]), list(seed[0]["__v"]),
               float(seed[0]["__n2"]), 0.0)]
    dim = len(chosen[0][1])
    use_literals = k * dim <= literal_max_terms

    def _mind_literal():
        dists = [
            F.round(
                F.col("__n2")
                - 2.0 * dot(F.col("__v"), F.array(*[F.lit(x) for x in cv]))
                + F.lit(cn2),
                6,
            )
            for _, cv, cn2, _ in chosen
        ]
        mind = dists[0]
        for d in dists[1:]:
            mind = F.least(mind, d)
        return mind

    def _mind_udf():
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415
        from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

        C = np.asarray([cv for _, cv, _, _ in chosen], dtype=np.float64)
        CN = np.asarray([cn2 for _, _, cn2, _ in chosen], dtype=np.float64)

        @pandas_udf("double")
        def mind(vv: pd.Series, n2: pd.Series) -> pd.Series:
            V = np.asarray(vv.tolist(), dtype=np.float64)
            raw = (
                n2.to_numpy(dtype=np.float64)[:, None]
                - 2.0 * (V @ C.T)
                + CN[None, :]
            )
            # HALF_UP (away from zero), matching Spark's round — numpy
            # rounds half-to-even.  The floor trick needs |d|*1e6 to
            # stay integer-exact; past 2^52 it silently truncates and
            # diverges from Spark (which rounds the shortest decimal
            # repr via BigDecimal.valueOf) — those rare huge distances
            # take the exact Decimal path instead.
            D = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
            # numpy's pairwise matmul differs from Spark's sequential
            # fold by ~d ulps; once d * ulp(|raw|) nears the 1e-6
            # rounding grid the difference can cross a boundary the
            # rounding cannot absorb (and past 2^46-ish the floor
            # trick itself truncates).  Cells with d*|raw|*2^-52 >
            # 1e-7 are recomputed with Spark's exact arithmetic —
            # never triggered by normalized/typical embeddings, so the
            # vectorized path keeps its cost in the cases that matter.
            big = np.abs(raw) >= (1e-7 * 2.0**52) / max(V.shape[1], 1)
            # HALF-GRID cells: Spark rounds the SHORTEST DECIMAL REPR
            # via BigDecimal.valueOf, the floor trick rounds the raw
            # binary double — when |raw|*1e6's fraction sits within a
            # hair of 0.5 the two can land one grid step apart (e.g. a
            # double whose repr is exactly '...5e-06' but whose binary
            # value is just below the half).  Such cells are ~1e-6 of
            # all cells; route them through the exact Decimal(repr)
            # path regardless of magnitude.
            scaled = np.abs(raw) * 1e6
            frac = scaled - np.floor(scaled)
            big = big | (np.abs(frac - 0.5) <= 1e-6)
            if big.any():
                # Spark-exact: the sequential left fold of F.aggregate
                # (acc + x*y from 0.0), the same expression
                # association ((n2 - 2*dot) + cn2), and shortest-repr
                # HALF_UP rounding (BigDecimal.valueOf semantics).
                from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

                q = Decimal("0.000001")
                n2np = n2.to_numpy(dtype=np.float64)
                for bi, ci in zip(*np.nonzero(big)):
                    acc = 0.0
                    vrow = V[bi]
                    crow = C[ci]
                    for j in range(vrow.shape[0]):
                        acc = acc + float(vrow[j]) * float(crow[j])
                    exact = (float(n2np[bi]) - 2.0 * acc) + float(CN[ci])
                    D[bi, ci] = float(
                        Decimal(repr(exact)).quantize(
                            q, rounding=ROUND_HALF_UP
                        )
                    )
            return pd.Series(D.min(axis=1) + 0.0)

        return mind(F.col("__v"), F.col("__n2"))

    for _ in range(1, k):
        mind = _mind_literal() if use_literals else _mind_udf()
        cand = (
            v.filter(~F.col(id_col).isin([cid for cid, _, _, _ in chosen]))
            .select(id_col, "__v", "__n2", mind.alias("__d"))
            .orderBy(F.col("__d").desc(), F.col(id_col))
            .limit(1)
            .collect()
        )
        if not cand:
            break  # corpus smaller than k
        r = cand[0]
        chosen.append(
            (int(r[id_col]), list(r["__v"]), float(r["__n2"]), float(r["__d"]))
        )
    v.unpersist()
    return spark.createDataFrame(
        [(i, cid, d) for i, (cid, _, _, d) in enumerate(chosen)],
        f"selection_order int, {id_col} long, min_dist_sq double",
    )


def kmeans_assign(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 3,
) -> DataFrame:
    """Deterministic Lloyd k-means CLUSTERING of an embedding corpus:
    ``iterations`` update rounds from the k lowest-id seed vectors,
    then the final per-vector assignment — the clustering step a
    curation pipeline runs before SemDeDup-style intra-cluster
    pruning, topic balancing, or IVF list construction (the existing
    :func:`kmeans_centroids` trains a quantizer but is documented
    non-bit-reproducible; this variant is the ORACLE-CHECKABLE twin).

    Engine-stable by the repo's kcenter discipline
    (:func:`kcenter_select`): per-centroid squared distances are
    ROUNDED to 6 places before the argmin (ties break on the lower
    centroid id via struct array_min), and per-dim centroid means are
    ROUNDED to 6 before the next round, so the whole trajectory —
    every assignment of every round — replays identically in another
    engine.  Empty cells keep their previous centroid, mirroring the
    classic implementation.

    Scale shape: centroids ride in the Arrow UDF's task closure
    (O(k x d) driver state); each round is one map-only assignment
    pass (a single ArrowEvalPython computing all k raw distances —
    rounding and the argmin tie-break stay Spark expressions) plus ONE
    partial-agg shuffle of (k x d) cardinality — per-dim means via
    posexplode groupBy(cell, pos), independent of corpus size; only
    the k x d mean matrix is ever collected.  No join, no lineage
    growth (fresh plan per round off the persisted projection).
    """
    spark = vectors.sparkSession
    v = vectors.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    ).persist()
    seeds = v.orderBy(id_col).limit(k).collect()
    if not seeds:
        v.unpersist()
        return spark.createDataFrame(
            [], f"{id_col} long, cluster_id int, dist_sq double"
        )
    cents = [list(r["__v"]) for r in seeds]

    def _best_expr():
        # r12: RAW per-centroid squared distances via ONE Arrow pass.
        # The previous shape — k interpreted zip_with/aggregate lambda
        # folds per row — has no codegen (higher-order functions are
        # interpreted), measured ~7 s PER PASS at 2000x64/k=8 for
        # microseconds of arithmetic (guide §4.2: hand batches to
        # numpy).  Bit-identity is preserved by construction: the
        # numpy helpers fold sequentially over dims exactly like the
        # engine folds (_np_fold_dot* contract), the expression
        # association ((n2 - 2*dot) + cn2) is unchanged, cn2 stays the
        # same Python-float sum, and ROUNDING AND THE ARGMIN TIE-BREAK
        # REMAIN SPARK EXPRESSIONS (F.round / array_min over
        # struct<d,c>) — no numpy re-implementation of round, so no
        # half-grid divergence to patch (contrast _mind_udf above).
        C = [list(map(float, cv)) for cv in cents]
        CN = [sum(x * x for x in cv) for cv in C]

        @pandas_udf("array<double>")
        def _dists(vv: pd.Series) -> pd.Series:
            A = _np_rows(vv)
            if A.shape[0] == 0:
                return pd.Series([], dtype=object)
            n2 = _np_fold_dot(A, A)
            D = np.empty((A.shape[0], len(C)), np.float64)
            for i, (cv, cn2) in enumerate(zip(C, CN)):
                D[:, i] = n2 - 2.0 * _np_fold_dot_w(A, cv) + cn2
            return pd.Series(list(D))

        pairs = F.transform(
            _dists(F.col("__v")),
            lambda x, i: F.named_struct(
                F.lit("d"), F.round(x, 6), F.lit("c"), i
            ),
        )
        return F.array_min(pairs)

    for _ in range(iterations):
        # r13: the cell id is materialized BEHIND A FILTER BARRIER
        # before the posexplode.  Without it CollapseProject merges the
        # assignment projection into the post-Generate one, and the
        # interpreted transform/array_min tie-break re-evaluates per
        # EXPLODED row — dims x more HOF evaluations per pass (the
        # Arrow distance pass itself is extracted once either way).
        # Measured at sf0.1 (2000x64, k=8): 1.27-1.71 s -> 0.39-0.63 s
        # per iteration, identical means.  The barrier predicate is
        # trivially true (argmin index is always >= 0).
        assigned = v.select(
            _best_expr()["c"].alias("__cell"), F.col("__v")
        ).filter(F.col("__cell") >= 0)
        means = (
            assigned.select(
                "__cell", F.posexplode("__v").alias("__pos", "__val")
            )
            .groupBy("__cell", "__pos")
            .agg(F.round(F.avg("__val"), 6).alias("__m"))
            .collect()
        )
        nxt = [list(c) for c in cents]  # empty cells keep centroids
        for row in means:
            nxt[row["__cell"]][row["__pos"]] = float(row["__m"])
        cents = nxt
    best = _best_expr()
    out = v.select(
        F.col(id_col),
        best["c"].alias("cluster_id"),
        best["d"].alias("dist_sq"),
    ).localCheckpoint(eager=True)
    v.unpersist()
    return out


def semdedup_cells_arrow(
    corpus: DataFrame,
    assignments: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """The SCALE-path SemDeDup verdict: per-CELL blocked numpy instead
    of a materialized pair join.

    :func:`semdedup_kmeans` builds the (lower-id mate) pair stream
    with a cluster-keyed self-join that ships BOTH full vectors per
    pair — exact and oracle-replayable, but the shuffle is
    O(pairs x dims): measured 164 s for a 10M-pair corpus where this
    variant runs in seconds.  Here each cell's vectors move ONCE
    (Arrow, O(N x dims)), and the cell's pairwise cosine block is one
    numpy matmul inside ``applyInPandas`` — O(sum cell^2 x dims)
    FLOPs, zero pair materialization.  Cells must be bounded for the
    matmul to fit a task: compose with :func:`cap_cluster_sizes`
    (N x max_cluster x dims FLOPs total, linear in the corpus).

    Verdicts are IDENTICAL to :func:`semdedup_kmeans` on the same
    assignments (same rounding discipline, pinned by parity test):
    per vector, max cosine to any LOWER-id cluster-mate, rounded 6,
    NULL for each cell's lowest id.  Output (id, cluster_id,
    max_cos_lower, kept) — the exact twin's shape."""
    import pandas as pd  # noqa: PLC0415

    t = assignments.select(id_col, "cluster_id").join(
        corpus.select(id_col, vec_col), id_col
    )

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        A = np.stack(
            [np.asarray(x, dtype=np.float64) for x in pdf["__v"]]
        )
        nrm = np.sqrt((A * A).sum(axis=1))
        nrm[nrm == 0.0] = 1.0
        C = A / nrm[:, None]
        S = np.round(C @ C.T, 6)
        out = np.full(len(pdf), np.nan)
        for i in range(1, len(pdf)):
            out[i] = S[i, :i].max()
        return pd.DataFrame(
            {
                "__id": pdf["__id"],
                "cluster_id": pdf["cluster_id"],
                "max_cos_lower": out,
            }
        )

    res = (
        t.select(
            F.col(id_col).alias("__id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            _as_double(F.col(vec_col)).alias("__v"),
        )
        .groupBy("cluster_id")
        .applyInPandas(
            cell, "__id long, cluster_id long, max_cos_lower double"
        )
    )
    return res.select(
        F.col("__id").alias(id_col),
        "cluster_id",
        "max_cos_lower",
        (
            F.col("max_cos_lower").isNull()
            | (F.col("max_cos_lower") < threshold)
        ).alias("kept"),
    )


def cap_cluster_sizes(
    assignments: DataFrame,
    id_col: str = "vec_id",
    max_cluster: int = 1000,
) -> DataFrame:
    """Deterministically subdivide oversized k-means cells before a
    within-cluster pair operator (:func:`semdedup_kmeans`): each cell
    of size s splits into ceil(s / max_cluster) sub-cells by an
    id-hash, and the returned frame's ``cluster_id`` encodes
    (cell, sub-cell) — so downstream pair spaces are bounded by
    N x max_cluster / 2 REGARDLESS of cluster skew.

    This is an APPROXIMATION: duplicates landing in different
    sub-cells of the same oversized cell are not compared (the same
    truncation every production SemDeDup applies when real corpora
    produce degenerate cells — measured here: the 10x clone-stress
    corpus put 62% of vectors into 3 of 20 cells, turning the
    published exact form quadratic).  The published exact semantics
    is simply this helper not applied; the registered oracle query
    keeps the exact form.
    """
    sizes = assignments.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("__sz")
    )
    n_sub = F.greatest(
        F.lit(1), F.ceil(F.col("__sz") / F.lit(max_cluster))
    ).cast("long")
    return (
        assignments.join(sizes, "cluster_id")
        .select(
            F.col(id_col),
            (
                F.col("cluster_id").cast("long") * F.lit(1 << 20)
                + F.pmod(F.xxhash64(F.col(id_col)), n_sub)
            ).alias("cluster_id"),
        )
    )


def semdedup_kmeans(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 3,
    threshold: float = 0.45,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup exactly as published (Abbas et al. 2023): k-means the
    embedding corpus, then WITHIN EACH CLUSTER drop any vector whose
    exact cosine to a lower-id cluster-mate reaches ``threshold`` —
    the cluster bounds the pair space, so pruning cost is
    sum(|cluster|^2), never corpus^2.  Complements
    :func:`semantic_dedup_survivors`, whose hyperplane buckets play
    the cluster role; this variant uses the real k-means partition
    (pass ``assignments`` to reuse a cached :func:`kmeans_assign`
    frame).

    One-shot relational rule (drop iff max cosine to ANY lower-id
    mate >= threshold) — deterministic, no iterative chain.  Cosine is
    rounded to 6 before the max/compare, the repo's engine-boundary
    discipline.  At 100 TB, k scales with the corpus (k ~ N/1000) so
    per-cluster pair counts stay bounded; the self-join shuffles on
    cluster_id only.

    Returns one verdict row per vector: (id, cluster_id,
    max_cos_lower — NULL for each cluster's lowest id, kept).
    """
    a = assignments
    if a is None:
        a = kmeans_assign(corpus, id_col, vec_col, k, iterations)
    first = corpus.select(vec_col).first()
    dims = len(first[0]) if first is not None else 0
    # cosine over the pair stream runs as the UNROLLED codegen fold
    # (dot(..., dims)): per-candidate-pair arithmetic stays JVM-side —
    # the Arrow-batched UDF variant shipped 2 x dims doubles per pair
    # through Python and measured 25s vs <2s here at 250k pairs; all
    # fold strategies are bit-identical (module docstring)
    vec = corpus.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("__v"),
        _pd_norm(F.col(vec_col)).alias("__n"),
    )
    t = a.select(id_col, "cluster_id").join(vec, id_col)
    hi = t.select(
        F.col(id_col).alias("__hi"),
        "cluster_id",
        F.col("__v").alias("__v1"),
        F.col("__n").alias("__n1"),
    )
    lo = t.select(
        F.col(id_col).alias("__lo"),
        "cluster_id",
        F.col("__v").alias("__v2"),
        F.col("__n").alias("__n2"),
    )
    mc = (
        hi.join(lo, "cluster_id")
        .filter(F.col("__lo") < F.col("__hi"))
        .select(
            F.col("__hi"),
            F.round(
                dot(F.col("__v1"), F.col("__v2"), dims=dims or None)
                / (F.col("__n1") * F.col("__n2")),
                6,
            ).alias("__cos"),
        )
        .groupBy("__hi")
        .agg(F.max("__cos").alias("max_cos_lower"))
        .withColumnRenamed("__hi", id_col)
    )
    return (
        a.select(id_col, "cluster_id")
        .join(mc, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            "max_cos_lower",
            (
                F.col("max_cos_lower").isNull()
                | (F.col("max_cos_lower") < threshold)
            ).alias("kept"),
        )
    )
