"""Similarity search over embedding columns (array<float>).

- cosine_topk:      brute-force exact top-k (the baseline)
- lsh_bucket_topk:  random-hyperplane LSH bucketing, the scale path:
                    candidates only within matching sign-buckets, exact
                    re-rank inside buckets.  At 100 TB the bucket join is
                    a hash join on a short signature key; brute force is
                    O(n*q) and reserved for oracles.
- embedding_cosine_dedup: near-dup pairs by cosine >= threshold within
                    LSH buckets (embedding analogue of minhash dedup).

r8 (optimization round) — the corpus-side linear algebra moved from
JVM expressions to Arrow-batched NumPy with SEQUENTIAL-ORDER
accumulation, and the small query-batch side to one-parse SQL text:

- The former `F.aggregate`/`F.zip_with` higher-order functions are
  CodegenFallback expressions: every row paid an interpreted lambda per
  element (measured ~7 us per 64-dim candidate dot; ann_cosine_topk
  spent 2.9 s of its bench time there at sf1).
- Unrolling the dots as inline codegen expressions was measured and
  REJECTED: null-tracked arithmetic generates ~80 bytecodes per term,
  so a 64-dim dot (~10 KB) cannot fit HotSpot's 8000-bytecode JIT
  ceiling inside a whole-stage-codegen method (Spark cannot split
  expression code in WSCG — inputs are local variables), and the 16x64
  centroid matrix blew janino's 64 KB hard method limit outright — the
  "fast" inline path ran interpreted and was 2x SLOWER than the
  higher-order functions it replaced (6.2 s vs 2.9 s for
  ann_cosine_topk at sf1).
- The Arrow path hands whole record batches to NumPy (the guide's §4.2
  shape for custom per-row math).  Exactness is preserved by
  construction: `_seq_dots` / `_seq_norms` vectorize across ROWS but
  accumulate across the dim axis j = 0, 1, ... one fused multiply-add
  at a time — the identical IEEE operation sequence (float32->float64
  cast, product, left-associated sum from 0.0) as both the old JVM
  formulation and the DuckDB value oracles.  Deliberately NOT a matmul:
  BLAS reassociates sums.

The tiny query batch (tens of rows by the serving contract) is
collected ONCE per query plan and its signatures / probe lists /
norms are derived driver-side with the same exact sequential kernels;
the corpus pass holds the query matrix as a closure constant and emits
only narrow (vec_id, qi, dot, v_norm) candidate rows — the corpus
vector crosses the JVM/Python boundary exactly once and is never
shipped per candidate (guide §8: decisions travel on lightweight
proxies, heavy bytes move once).  This also removed the hundreds of
py4j Column-object calls that dominated plan-build time (ann_lsh_topk:
1.25 s -> ~0.1 s build at sf1).

`signature_col` / `centroid_dots_col` remain as the reusable column
API (SQL-text for small matrices, Arrow for wide ones, and the
original higher-order-function tree for generic Column input — all
value-identical; pinned in tests/test_functions.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — pandas_udf resolves `pd.Series` hints


def _qn(name: str) -> str:
    """Backtick-quote a column name for SQL-text embedding."""
    return "`" + name.replace("`", "``") + "`"


def _flit(v: float) -> str:
    """Double literal (repr round-trips exactly; D keeps it non-DECIMAL)."""
    return f"({float(v)!r}D)"


# --- exact sequential NumPy kernels (executor-side) ------------------------

def _as_f64(vs) -> np.ndarray:
    """(n, dim) float64 matrix from a pandas Series of float32 arrays
    (the widening cast is exact, mirroring the JVM's per-element CAST
    AS DOUBLE)."""
    return np.asarray(vs.tolist(), dtype=np.float64)


def _seq_dots(V: np.ndarray, M: np.ndarray) -> np.ndarray:
    """out[i, k] = <V[i], M[k]> with the sum accumulated SEQUENTIALLY
    over the dim axis (j = 0, 1, ...), vectorized over rows — the
    bit-identical IEEE sequence of the left-associated JVM/DuckDB sum
    starting at 0.0."""
    out = np.zeros((V.shape[0], M.shape[0]))
    for j in range(V.shape[1]):
        out += V[:, j:j + 1] * M[:, j][None, :]
    return out


def _seq_norms(V: np.ndarray) -> np.ndarray:
    """sqrt(<v, v>) with the same sequential accumulation (sqrt is
    correctly rounded everywhere — IEEE-exact across engines)."""
    acc = np.zeros(V.shape[0])
    for j in range(V.shape[1]):
        acc += V[:, j] * V[:, j]
    return np.sqrt(acc)


def _pack_signature(dots: np.ndarray) -> np.ndarray:
    """int64 sign-bucket bits from (n, n_planes) raw dots: bit i set
    when dot_i > 0 (uint64 weight sum wraps bit 63 exactly like the
    JVM long addition)."""
    weights = (np.uint64(1) << np.arange(dots.shape[1], dtype=np.uint64))
    bits = dots > 0
    return (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)


def _list_matrix_f64(arr) -> np.ndarray:
    """(n, dim) float64 from a pyarrow ListArray of float32 (uniform
    widths): zero-copy flatten + one exact widening cast.  Falls back
    to the per-row path on nulls/ragged input."""
    import pyarrow as pa  # noqa: F401

    if arr.null_count == 0:
        flat = np.asarray(arr.flatten())
        if flat.size % max(len(arr), 1) == 0 and len(arr) > 0:
            return flat.reshape(len(arr), -1).astype(np.float64)
    return np.asarray(arr.to_pylist(), dtype=np.float64)


def _collect_query_batch(query_df, q_id_col: str, q_vec_col: str):
    """Driver-side materialization of the query batch (small by the
    serving contract — bounded by the batch, never the corpus): ids and
    the float64 query matrix (float32 -> float64 is exact)."""
    rows = query_df.select(q_id_col, q_vec_col).collect()
    q_ids = [r[0] for r in rows]
    Q = (np.asarray([r[1] for r in rows], dtype=np.float64)
         if rows else np.zeros((0, 1)))
    return q_ids, Q


def _candidates_map_arrow(probe_map: dict, Q: np.ndarray,
                          key_col: str, norm_col: str | None):
    """mapInArrow factory: corpus rows -> candidate rows (vec_id, qi,
    dot, v_norm), with the query matrix and the probe map (bucket/list
    id -> query indexes) as closure constants.  The corpus vector
    crosses the Python boundary exactly ONCE and never again (guide §8:
    every decision downstream runs on the lightweight proxy); dots are
    exact `_seq_dots` (module docstring).  `norm_col` None recomputes
    the norm (in-query paths); a name reads the PREBUILT index's
    persisted norm unchanged."""
    import pyarrow as pa

    def _gen(it):
        for b in it:
            if len(b) == 0:
                continue
            vec_ids = np.asarray(
                b.column(b.schema.get_field_index("vec_id")))
            keys = np.asarray(b.column(b.schema.get_field_index(key_col)))
            V = _list_matrix_f64(b.column(b.schema.get_field_index("v")))
            norms = (np.asarray(
                b.column(b.schema.get_field_index(norm_col)))
                if norm_col else _seq_norms(V))
            batch = _emit_candidates(vec_ids, keys, V, norms,
                                     probe_map, Q)
            if batch is not None:
                yield batch

    return _gen


_CAND_SCHEMA = "vec_id long, qi int, dot double, v_norm double"


def _brute_map_arrow(Q: np.ndarray):
    """mapInArrow factory for the brute-force baseline: every corpus
    row emits its exact dot against EVERY query (the query matrix is a
    closure constant; the corpus vector crosses the boundary once)."""
    import pyarrow as pa

    def _gen(it):
        for b in it:
            n = len(b)
            if n == 0 or Q.shape[0] == 0:
                continue
            vec_ids = np.asarray(
                b.column(b.schema.get_field_index("vec_id")))
            V = _list_matrix_f64(b.column(b.schema.get_field_index("v")))
            norms = _seq_norms(V)
            dots = _seq_dots(V, Q)
            m = Q.shape[0]
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(vec_ids, m), type=pa.int64()),
                 pa.array(np.tile(np.arange(m, dtype=np.int32), n),
                          type=pa.int32()),
                 pa.array(dots.ravel(), type=pa.float64()),
                 pa.array(np.repeat(norms, m), type=pa.float64())],
                ["vec_id", "qi", "dot", "v_norm"])

    return _gen


def _lsh_candidates_map_arrow(planes: np.ndarray, probe_map: dict,
                              Q: np.ndarray):
    """mapInArrow factory: signature + norm + candidate dots for the
    LSH path in ONE corpus pass (bucket computed in-batch with the
    plane matrix; candidates only for probed buckets)."""
    import pyarrow as pa

    P = np.ascontiguousarray(planes, dtype=np.float64)

    def _gen(it):
        for b in it:
            if len(b) == 0:
                continue
            vec_ids = np.asarray(
                b.column(b.schema.get_field_index("vec_id")))
            V = _list_matrix_f64(b.column(b.schema.get_field_index("v")))
            buckets = _pack_signature(_seq_dots(V, P))
            norms = _seq_norms(V)
            batch = _emit_candidates(vec_ids, buckets, V, norms,
                                     probe_map, Q)
            if batch is not None:
                yield batch

    return _gen


def _ivf_candidates_map_arrow(cents: np.ndarray, probe_map: dict,
                              Q: np.ndarray):
    """mapInArrow factory: centroid assignment + norm + candidate dots
    for the IVF path in ONE corpus pass (argmax semantics identical to
    the JVM array_position(arr, array_max(arr)): first index of the
    maximum)."""
    import pyarrow as pa

    Cm = np.ascontiguousarray(cents, dtype=np.float64)

    def _gen(it):
        for b in it:
            if len(b) == 0:
                continue
            vec_ids = np.asarray(
                b.column(b.schema.get_field_index("vec_id")))
            V = _list_matrix_f64(b.column(b.schema.get_field_index("v")))
            cd = _seq_dots(V, Cm)
            list_ids = np.argmax(cd, axis=1).astype(np.int64)
            norms = _seq_norms(V)
            batch = _emit_candidates(vec_ids, list_ids, V, norms,
                                     probe_map, Q)
            if batch is not None:
                yield batch

    return _gen


def _emit_candidates(vec_ids, keys, V, norms, probe_map: dict,
                     Q: np.ndarray):
    """Shared candidate emission: for every key group whose key the
    probe map covers, exact dots vs that key's probing queries."""
    import pyarrow as pa

    out_vid, out_qi, out_dot, out_norm = [], [], [], []
    for key in np.unique(keys):
        qidx = probe_map.get(int(key))
        if qidx is None:
            continue
        sel = np.nonzero(keys == key)[0]
        dots = _seq_dots(V[sel], Q[qidx])  # (n_sel, n_q)
        n_sel, n_q = dots.shape
        out_vid.append(np.repeat(vec_ids[sel], n_q))
        out_qi.append(np.tile(np.asarray(qidx, dtype=np.int32), n_sel))
        out_dot.append(dots.ravel())
        out_norm.append(np.repeat(norms[sel], n_q))
    if not out_vid:
        return None
    return pa.RecordBatch.from_arrays(
        [pa.array(np.concatenate(out_vid), type=pa.int64()),
         pa.array(np.concatenate(out_qi), type=pa.int32()),
         pa.array(np.concatenate(out_dot), type=pa.float64()),
         pa.array(np.concatenate(out_norm), type=pa.float64())],
        ["vec_id", "qi", "dot", "v_norm"])


def _probe_masks(n_planes: int, multiprobe: int) -> list:
    """XOR masks for Hamming-distance <= multiprobe probing (0 = the
    bucket itself)."""
    masks = [0]
    if multiprobe >= 1:
        masks += [1 << i for i in range(n_planes)]
    if multiprobe >= 2:
        masks += [(1 << i) | (1 << j)
                  for i in range(n_planes)
                  for j in range(i + 1, n_planes)]
    return masks


def _probe_lists_np(qcd: np.ndarray, n_probe: int) -> list:
    """Per-query n_probe best centroid lists: argsort by descending
    dot with index-ascending ties — the NumPy twin of the JVM
    array_sort(struct(-d, i)) formulation (lexsort: NaN last, exactly
    Spark's NaN-greatest ordering of -d)."""
    out = []
    for row in qcd:
        order = np.lexsort((np.arange(row.shape[0]), -row))
        out.append([int(i) for i in order[:n_probe]])
    return out


def _rank_candidate_rows(cand, q_ids, q_norms, k: int, raw_cosine: bool):
    """Shared tail over narrow candidate rows (vec_id, qi, dot,
    v_norm): cosine = dot / (v_norm * q_norm) with the q-norm as a
    plan-time literal (same two IEEE ops as before), q_id looked up
    from the collected batch, then the single-Exchange window top-k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if len(q_ids) == 0:
        qid_arr = F.expr("CAST(array() AS ARRAY<BIGINT>)")
        qn_arr = F.expr("CAST(array() AS ARRAY<DOUBLE>)")
    else:
        qid_arr = F.array(*[F.lit(int(v)).cast("long") for v in q_ids])
        qn_arr = F.array(*[F.lit(float(v)) for v in q_norms])
    cand = cand.select(
        F.element_at(qid_arr, F.col("qi") + 1).alias("q_id"),
        "vec_id",
        (F.col("dot") / (F.col("v_norm")
                         * F.element_at(qn_arr, F.col("qi") + 1)))
        .alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    cos_out = F.col("cosine") if raw_cosine else F.round("cosine", 6)
    return (cand.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("q_id", "vec_id", "rank",
                        cos_out.alias("cosine")))


def _seq_pair_dot_udf():
    """pandas UDF: exact sequential dot of two array columns (the
    candidate re-rank — one Arrow hop carrying only the two vectors)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        A, B = _as_f64(va), _as_f64(vb)
        acc = np.zeros(A.shape[0])
        for j in range(A.shape[1]):
            acc += A[:, j] * B[:, j]
        return pd.Series(acc)

    return _dot


def _corpus_tag_lsh_udf(planes: np.ndarray):
    """pandas UDF: (v_norm, bucket) per corpus vector in ONE Arrow hop
    (the plane matrix ships once per task as a closure constant)."""
    from pyspark.sql.functions import pandas_udf

    P = np.ascontiguousarray(planes, dtype=np.float64)

    @pandas_udf("v_norm double, bucket long")
    def _tag(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"v_norm": pd.Series([], dtype="float64"),
                                 "bucket": pd.Series([], dtype="int64")})
        V = _as_f64(vs)
        return pd.DataFrame({"v_norm": _seq_norms(V),
                             "bucket": _pack_signature(_seq_dots(V, P))})

    return _tag


def _corpus_tag_ivf_udf(cents: np.ndarray):
    """pandas UDF: (v_norm, cd array<double>) per corpus vector in ONE
    Arrow hop (the centroid matrix ships once per task)."""
    from pyspark.sql.functions import pandas_udf

    Cm = np.ascontiguousarray(cents, dtype=np.float64)

    @pandas_udf("v_norm double, cd array<double>")
    def _tag(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"v_norm": pd.Series([], dtype="float64"),
                                 "cd": pd.Series([], dtype="object")})
        V = _as_f64(vs)
        return pd.DataFrame({"v_norm": _seq_norms(V),
                             "cd": list(_seq_dots(V, Cm))})

    return _tag


# --- SQL-text expressions (query-batch side: tens of rows) ------------------



def _dot_lit_sql(a: str, vec) -> str:
    """SQL text of <a, literal vector> (same sum order)."""
    qa = _qn(a)
    t = " + ".join(f"CAST({qa}[{j}] AS DOUBLE) * {_flit(x)}"
                   for j, x in enumerate(vec))
    return f"(0.0D + {t})"


def _sig_sql(a: str, planes: np.ndarray) -> str:
    """SQL text of the packed sign-bucket signature — for the small
    query batch only (the corpus side uses _corpus_tag_lsh_udf)."""
    parts = ["CAST(0 AS BIGINT)"]
    for i, p in enumerate(planes):
        parts.append(f"(CASE WHEN {_dot_lit_sql(a, p)} > 0 "
                     f"THEN CAST({_i64(1 << i)} AS BIGINT) ELSE 0 END)")
    return " + ".join(parts)


def _cdots_sql(a: str, cents: np.ndarray) -> str:
    """SQL text of array(<a, centroid_i>, ...) — query-batch side."""
    dots = [_dot_lit_sql(a, c) for c in cents]
    return "array(" + ", ".join(dots) + ")"


# --- generic-Column fallbacks (unknown width; kept for API compat) ---------

def _norm_col(vec_col):
    """Generic-Column higher-order-function norm (unknown width)."""
    from pyspark.sql import functions as F

    return F.sqrt(F.aggregate(vec_col, F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _dot_col(a, b):
    """Generic-Column higher-order-function dot (unknown width)."""
    from pyspark.sql import functions as F

    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def cosine_topk(emb_df, query_df, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                q_id_col: str = "q_id", q_vec_col: str = "embedding",
                raw_cosine: bool = False, dim: int | None = None):
    """Exact brute-force cosine top-k.

    Scale shape: corpus never shuffles; the only Exchange is the final
    top-k window keyed by query (tiny).  With `dim` given (r8) the
    query batch is collected once (bounded by the batch contract) and
    every corpus vector crosses the Arrow boundary exactly once,
    emitting its exact dots against the closure-held query matrix —
    identical values (module docstring), no crossJoin row explosion of
    vector payloads.  None keeps the generic-width
    broadcast-crossJoin + higher-order-function path."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if dim is not None:
        q_ids, Q = _collect_query_batch(query_df, q_id_col, q_vec_col)
        cand = (emb_df.select(F.col(id_col).alias("vec_id"),
                              F.col(vec_col).alias("v"))
                .mapInArrow(_brute_map_arrow(Q), _CAND_SCHEMA))
        return _rank_candidate_rows(cand, q_ids, _seq_norms(Q), k,
                                    raw_cosine)
    corpus = emb_df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        _norm_col(F.col(vec_col)).alias("v_norm"),
    )
    queries = query_df.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q"),
        _norm_col(F.col(q_vec_col)).alias("q_norm"),
    )
    dot = _dot_col(F.col("v"), F.col("q"))
    cand = corpus.crossJoin(F.broadcast(queries))
    cand = cand.withColumn(
        "cosine", dot / (F.col("v_norm") * F.col("q_norm")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    cos_out = F.col("cosine") if raw_cosine else F.round("cosine", 6)
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank", cos_out.alias("cosine"))
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((n_planes, dim))


# Above this many literal terms (n_planes*dim resp. n_centroids*dim) even
# the QUERY-batch side stops inlining the matrix as SQL literals (parse
# and analysis cost grows with the text) and uses the Arrow path for its
# handful of rows too.
_JVM_EXPR_MAX_TERMS = 4096


def _i64(v: int) -> int:
    """Two's-complement fold of any int into a signed 64-bit value (bit
    63 of a signature, probe mask or probe key must wrap, not overflow
    the JVM long)."""
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= (1 << 63) else v


def signature_col(vec_col, planes: np.ndarray, use_pandas: bool | None = None):
    """Sign-bucket signature column: bit i = (v . plane_i) > 0, packed
    into a long.  `vec_col` is a column NAME (str) or a Column.

    str + small matrix -> one SQL-text expression (query batches);
    large matrices or explicit use_pandas -> sequential-NumPy Arrow
    batch; Column input -> the generic higher-order-function tree.
    All three produce identical values (module docstring)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    if use_pandas is None:
        use_pandas = planes.size > _JVM_EXPR_MAX_TERMS

    if not use_pandas:
        if not isinstance(vec_col, str):
            # generic-Column fallback (parity-test surface)
            sig = F.lit(0).cast("long")
            for i, p in enumerate(planes):
                arr = F.array(*[F.lit(float(x)) for x in p])
                dot = _dot_col(vec_col, arr)
                sig = sig + F.when(dot > 0,
                                   F.lit(_i64(1 << i)).cast("long")) \
                             .otherwise(F.lit(0))
            return sig
        return F.expr(_sig_sql(vec_col, planes))

    P = np.ascontiguousarray(planes, dtype=np.float64)

    @pandas_udf("long")
    def _sig(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        return pd.Series(_pack_signature(_seq_dots(_as_f64(vs), P)))

    return _sig(vec_col)


def centroid_dots_col(vec_col, cents: np.ndarray, use_pandas: bool | None = None):
    """array<double> of raw dot products v . centroid_i (no norm
    division: centroid argmax and probe ordering are invariant in the
    vector's positive norm, so the division is dead work).  Same path
    selection as signature_col."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    if use_pandas is None:
        use_pandas = cents.size > _JVM_EXPR_MAX_TERMS

    if not use_pandas:
        if not isinstance(vec_col, str):
            return F.array(*[
                _dot_col(vec_col, F.array(*[F.lit(float(x)) for x in c]))
                for c in cents
            ])
        return F.expr(_cdots_sql(vec_col, cents))

    Cm = np.ascontiguousarray(cents, dtype=np.float64)

    @pandas_udf("array<double>")
    def _cd(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        return pd.Series(list(_seq_dots(_as_f64(vs), Cm)))

    return _cd(vec_col)



def lsh_bucket_topk(emb_df, query_df, k: int = 5, n_planes: int = 8,
                    dim: int | None = None, seed: int = 42,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    q_id_col: str = "q_id", q_vec_col: str = "embedding",
                    multiprobe: int = 1, raw_cosine: bool = False):
    """ANN: hyperplane-LSH bucket join + exact cosine re-rank inside the
    bucket.  `multiprobe` additionally probes buckets at Hamming
    distance <= multiprobe from the query signature (recall knob).

    Plan shape (r8): the query batch is collected once and signed/
    probe-expanded driver-side (exact sequential arithmetic); ONE
    mapInArrow corpus pass computes bucket + norm and emits exact dots
    only for probed buckets, against the closure-held query matrix —
    candidates leave Python as narrow (vec_id, qi, dot, v_norm) rows,
    the corpus vector crosses the boundary exactly once, and the only
    Exchange is the ranking window's.

    Approximate by construction — the oracle for recall evaluation is
    cosine_topk.

    `dim` (embedding width) is required: inferring it would cost an
    extra Spark job per plan construction."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if dim is None:
        raise ValueError("dim is required (embedding width; avoids an "
                         "extra inference job per call)")
    planes = _hyperplanes(dim, n_planes, seed)

    q_ids, Q = _collect_query_batch(query_df, q_id_col, q_vec_col)
    qsig = _pack_signature(
        _seq_dots(Q, np.ascontiguousarray(planes, dtype=np.float64))
    ) if len(q_ids) else np.zeros(0, dtype=np.int64)
    # multiprobe bucket expansion: probe all buckets within Hamming
    # distance <= multiprobe of each query signature.  A corpus row has
    # ONE bucket and a query's probe masks are distinct, so each
    # (corpus row, query) candidate arises at most once — the old
    # join-side lag() dedup was a no-op and is gone with the join.
    probe_map: dict = {}
    for ki, s in enumerate(qsig):
        for m in _probe_masks(n_planes, multiprobe):
            probe_map.setdefault(_i64(int(s) ^ m), []).append(ki)

    cand = (emb_df.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("v"))
            .mapInArrow(_lsh_candidates_map_arrow(planes, probe_map, Q),
                        _CAND_SCHEMA))
    return _rank_candidate_rows(cand, q_ids, _seq_norms(Q), k,
                                raw_cosine)


def train_centroids(emb_df, n_centroids: int, dim: int, n_iter: int = 5,
                    seed: int = 42, vec_col: str = "embedding",
                    normalize: bool = True) -> np.ndarray:
    """Distributed spherical k-means (Lloyd) for the IVF coarse
    quantizer: assignment is one Arrow-batched sequential-dots pass per
    iteration, the update is ONE groupBy aggregation with map-side
    partial sums — no Python in the update.

    Returns (n_centroids, dim) float64 unit centroids, deterministic
    given the seed (empty clusters keep their previous centroid).
    Scale shape per iteration: one scan + one shuffle of n_centroids*dim
    partial sums — independent of corpus size beyond the scan."""
    from pyspark.sql import functions as F

    rng = np.random.Generator(np.random.PCG64(seed))
    cents = rng.standard_normal((n_centroids, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    base = emb_df.select(F.col(vec_col).alias("v"))
    for _ in range(n_iter):
        dotted = base.select(
            "v", centroid_dots_col("v", cents, use_pandas=True)
            .alias("_cd"))
        assigned = dotted.select(
            "v",
            (F.array_position(F.col("_cd"), F.array_max(F.col("_cd")))
             .cast("int") - 1).alias("list_id"),
        )
        # element-wise sums via posexplode + hash aggregate: map-side
        # partial aggregation shrinks the shuffle to n_centroids*dim
        # partials per task regardless of corpus size (collect_list-style
        # per-cluster materialization would not)
        sums = (assigned
                .select("list_id", F.posexplode("v").alias("i", "val"))
                .groupBy("list_id", "i")
                .agg(F.sum(F.col("val").cast("double")).alias("s"),
                     F.count("*").alias("n"))
                .collect())
        acc = np.zeros((n_centroids, dim))
        cnt = np.zeros(n_centroids, dtype=np.int64)
        for row in sums:
            # a non-finite corpus vector yields array_max=NaN ->
            # array_position null -> null list_id; skip it rather than
            # letting one bad vector abort training with a TypeError
            if row["list_id"] is None:
                continue
            acc[row["list_id"], row["i"]] = row["s"]
            cnt[row["list_id"]] = row["n"]
        new = cents.copy()
        nz = cnt > 0
        means = acc[nz] / cnt[nz, None]
        if normalize:
            nrm = np.linalg.norm(means, axis=1, keepdims=True)
            means = np.where(nrm > 0, means / np.where(nrm == 0, 1, nrm),
                             means)
        new[nz] = means
        cents = new
    return cents



def ivf_topk(emb_df, query_df, k: int = 5, n_centroids: int = 16,
             n_probe: int = 4, dim: int | None = None, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "embedding",
             raw_cosine: bool = False,
             centroids: np.ndarray | None = None):
    """ANN via IVF (inverted-file) coarse quantization: corpus vectors
    are assigned to their nearest of `n_centroids` fixed random-unit
    centroids (one Arrow-batched sequential-dots pass + a JVM argmax —
    no k-means iterations, so the plan is a single deterministic pass);
    each query probes its `n_probe` nearest centroid lists and re-ranks
    exactly.

    Scale shape: queries broadcast with their probe list; candidates
    = corpus x (n_probe / n_centroids) — a tunable recall/compute knob.
    The broadcast probe join needs NO corpus exchange (r8: the former
    `repartition("list_id")` shuffled the full vector payload for
    nothing — the persisted inverted file lives in ann_index.py, where
    `partitionBy("list_id")` is the real layout).  Approximate; recall
    vs cosine_topk pinned in tests.

    `dim` required (see lsh_bucket_topk)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if dim is None:
        raise ValueError("dim is required (embedding width)")
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
        n_centroids = cents.shape[0]
    else:
        rng = np.random.Generator(np.random.PCG64(seed))
        cents = rng.standard_normal((n_centroids, dim))
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    q_ids, Q = _collect_query_batch(query_df, q_id_col, q_vec_col)
    # probe the n_probe best centroid lists per query (argsort by
    # descending dot, index-ascending ties — JVM-identical semantics)
    probe_map: dict = {}
    if len(q_ids):
        for ki, lists in enumerate(_probe_lists_np(_seq_dots(Q, cents),
                                                   n_probe)):
            for lid in lists:
                probe_map.setdefault(int(lid), []).append(ki)

    cand = (emb_df.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("v"))
            .mapInArrow(_ivf_candidates_map_arrow(cents, probe_map, Q),
                        _CAND_SCHEMA))
    return _rank_candidate_rows(cand, q_ids, _seq_norms(Q), k,
                                raw_cosine)


def embedding_cosine_dedup(emb_df, threshold: float = 0.95, n_planes: int = 12,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           seed: int = 42, dim: int | None = None,
                           max_bucket: int | None = 10000):
    """Near-duplicate vector pairs (cosine >= threshold) via LSH-bucketed
    self-join + exact verification; returns (id_a, id_b, cosine).

    `dim` (embedding width) is required — see lsh_bucket_topk.

    `max_bucket` DROPS buckets larger than the cap before the self-join
    — the same quadratic-blowup guard (and the same drop semantics) as
    minhash_lsh_pairs: a degenerate bucket (e.g. all-zero vectors
    sharing one signature) would otherwise go O(bucket^2).  Pairs inside
    a dropped bucket are missed — the recall trade the MinHash sibling
    documents.  None disables the cap."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if dim is None:
        raise ValueError("dim is required (embedding width; avoids an "
                         "extra inference job per call)")
    planes = _hyperplanes(dim, n_planes, seed)
    tagged = emb_df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        _corpus_tag_lsh_udf(planes)(F.col(vec_col)).alias("_t"),
    ).select("vec_id", "v", F.col("_t.v_norm").alias("n"),
             F.col("_t.bucket").alias("bucket"))
    if max_bucket is not None:
        tagged = (tagged.withColumn(
            "_bn", F.count("*").over(Window.partitionBy("bucket")))
            .where(F.col("_bn") <= max_bucket).drop("_bn"))
    a = tagged.select("bucket", F.col("vec_id").alias("id_a"),
                      F.col("v").alias("va"), F.col("n").alias("na"))
    b = tagged.select("bucket", F.col("vec_id").alias("id_b"),
                      F.col("v").alias("vb"), F.col("n").alias("nb"))
    pairs = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
    pairs = pairs.withColumn(
        "cosine",
        _seq_pair_dot_udf()(F.col("va"), F.col("vb"))
        / (F.col("na") * F.col("nb"))
    )
    return (
        pairs.where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .distinct()
    )
