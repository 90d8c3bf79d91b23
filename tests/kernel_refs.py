"""Independent reference implementations for the engine's Arrow kernels.

Each engine operator has one execution path. These are the second,
independent formulations that the differential tests compare it with,
bit for bit:

* ``rep_stats_ref`` — per-document dict loop for
  ``text.repetition_signals`` (the kernel counts every document of a
  batch at once by rank doubling);
* ``pq_code_expr`` — Catalyst argmin fold for ``similarity.pq_encode``;
* ``pq_topk_catalyst`` — Catalyst ADC (JVM lookup tables, two-level
  window top-k) for ``similarity.pq_topk``.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
from pyspark.sql import Column, DataFrame as SparkDF, Window as W
from pyspark.sql import functions as F

# Java \s == [ \t\n\x0B\f\r]; Python re.ASCII \s is the identical set
_WS_RE = re.compile(r"\s+", re.ASCII)
_PARA_RE = re.compile(r"\n{2,}")


def rep_stats_ref(text: str | None, top_ns, dup_ns) -> dict:
    """Gopher repetition signals of ONE document, by plain dict counting:
    line/paragraph units through a Counter, word n-grams counted as
    tuples of interned word ids (join-with-space is injective over
    whitespace-free words, so id-tuple equality IS joined-string
    equality, and the joined length is a prefix-sum lookup). Integer
    counts, then the same float divisions as the kernel."""
    text = text if isinstance(text, str) else ""
    out = {}
    tlen = max(len(text), 1)
    for name, parts in (
        ("line", text.split("\n")),
        ("para", _PARA_RE.split(text)),
    ):
        units = [u for u in (x.strip(" ") for x in parts) if u]
        du = dc = 0
        for u, c in Counter(units).items():
            if c > 1:
                du += c
                dc += c * len(u)
        out[f"dup_{name}_frac"] = du / max(len(units), 1)
        out[f"dup_{name}_char_frac"] = dc / max(sum(len(u) for u in units), 1)
    words = [w for w in _WS_RE.split(text) if w]
    intern: dict = {}
    ids = tuple(intern.setdefault(w, len(intern)) for w in words)
    cs = [0]
    for w in words:
        cs.append(cs[-1] + len(w))
    for n in {*top_ns, *dup_ns}:
        cnt: dict = {}
        for i in range(len(words) - n + 1):
            g = ids[i : i + n]
            e = cnt.get(g)
            if e is None:
                cnt[g] = [1, cs[i + n] - cs[i] + n - 1]
            else:
                e[0] += 1
        if n in top_ns:
            best = (0, 0)
            for c, gl in cnt.values():
                if c > 1:
                    best = max(best, (c, c * gl))
            out[f"top_{n}gram_char_frac"] = min(best[1] / tlen, 1.0)
        if n in dup_ns:
            dc = sum(c * gl for c, gl in cnt.values() if c > 1)
            out[f"dup_{n}gram_char_frac"] = min(dc / tlen, 1.0)
    return out


def rep_signals_ref(
    text: str | None,
    top_ns=(2, 3, 4),
    dup_ns=(5, 6, 7, 8, 9, 10),
    thresholds: dict | None = None,
) -> dict:
    """One document's ``repetition_signals`` columns: ``rep_stats_ref``
    plus ``repetition_keep`` under the same merged thresholds."""
    from pandas_spark.operators.text import GOPHER_REP_THRESHOLDS

    th = {**GOPHER_REP_THRESHOLDS, **(thresholds or {})}
    out = rep_stats_ref(text, top_ns, dup_ns)
    keep = all(
        out[f"dup_{u}{kind}_frac"] <= th[f"dup_{u}{kind}_frac"]
        for u in ("line", "para")
        for kind in ("", "_char")
    )
    keep &= all(out[f"top_{n}gram_char_frac"] <= th["top_ngram_char_frac"][n] for n in top_ns)
    keep &= all(out[f"dup_{n}gram_char_frac"] <= th["dup_ngram_char_frac"][n] for n in dup_ns)
    out["repetition_keep"] = keep
    return out


def _sq_dist_fold(a: Column, b: Column) -> Column:
    """Squared L2 distance as an in-order JVM fold over zip_with."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _codebook_lit(codebook: np.ndarray) -> Column:
    # one nested literal per subspace: one tree node, not k·dim scalars
    return F.lit([[float(x) for x in row] for row in codebook])


def pq_code_expr(codebooks: np.ndarray, v: Column) -> Column:
    """JVM-side PQ encoding: per subspace, the argmin-L2 centroid index
    as a Catalyst fold (array<int>, length m). Ties break to the smaller
    index (np.argmin rule), encoded as min over (dist, index) structs."""
    m, ksub, dsub = codebooks.shape

    def sub_code(cb: Column, sub: Column) -> Column:
        pairs = F.transform(
            F.sequence(F.lit(0), F.lit(ksub - 1)),
            lambda c: F.struct(
                _sq_dist_fold(sub, F.element_at(cb, c + 1)).alias("d"), c.alias("i")
            ),
        )
        return F.array_min(pairs)["i"].cast("int")

    return F.array(
        *[
            sub_code(_codebook_lit(codebooks[j]), F.slice(v, j * dsub + 1, dsub))
            for j in range(m)
        ]
    )


def pq_topk_catalyst(
    encoded: SparkDF,
    queries: SparkDF,
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> SparkDF:
    """ADC top-k in Catalyst: per-query lookup tables as JVM transforms
    over the codebook literals, broadcast-joined to the code table, then
    a two-level (per-partition, then global) (dist, id) window top-k."""
    m, ksub, dsub = codebooks.shape

    def lut(j: int) -> Column:
        sub = F.slice(F.col("__qv__"), j * dsub + 1, dsub)
        return F.transform(_codebook_lit(codebooks[j]), lambda cent: _sq_dist_fold(sub, cent))

    luts = [lut(j) for j in range(m)]
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qv__")).select(
        query_id_col, F.array(*luts).alias("__lut__")
    )
    scored = (
        encoded.select(F.col(id_col), F.col(code_col).alias("__code__"))
        .join(F.broadcast(q))
        .select(
            query_id_col,
            id_col,
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + F.element_at(
                    F.element_at(F.col("__lut__"), j + 1),
                    F.element_at(F.col("__code__"), j + 1) + 1,
                ),
            ).alias("approx_dist"),
        )
    )
    order = (F.col("approx_dist").asc(), F.col(id_col).asc())
    part = scored.withColumn("__pid__", F.spark_partition_id())
    survivors = (
        part.withColumn(
            "__rn__",
            F.row_number().over(W.partitionBy(query_id_col, "__pid__").orderBy(*order)),
        )
        .filter(F.col("__rn__") <= k)
        .drop("__rn__", "__pid__")
    )
    return (
        survivors.withColumn(
            "__rn__", F.row_number().over(W.partitionBy(query_id_col).orderBy(*order))
        )
        .filter(F.col("__rn__") <= k)
        .select(query_id_col, id_col, "approx_dist", F.col("__rn__").alias("rank"))
    )
