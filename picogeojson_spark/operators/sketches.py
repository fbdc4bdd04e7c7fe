"""Count-min sketch: fixed-size frequency summaries of unbounded token streams.

At 100 TB the exact token-frequency table is itself huge (vocabulary grows
with the corpus — URLs, hashes, typos); a count-min sketch (Cormode &
Muthukrishnan 2005) bounds the summary at ``depth x width`` counters with
a one-sided error guarantee: estimates never under-count, and over-count
by more than ``2N/width`` with probability at most ``(1/2)^depth``.

Spark shape: the build is ONE linear pass — explode tokens, fan each out
to ``depth`` (row, bucket) keys, and hash-aggregate. The map-side partial
combine reduces every task's contribution to at most ``depth*width``
counters before the (tiny) shuffle, so the exchange volume is bounded by
the sketch size times the task count — independent of corpus size. The
result is a ``<= depth*width``-row table, broadcastable for point queries
or mergeable across corpus shards by plain ``cnt`` addition (the sketch is
a linear projection — union the rows, re-aggregate).

Determinism: the bucket hash is the repo-standard md5 construction
(``conv(substr(md5('cms' || row || ':' || token), 1, 8), 16, 10) % width``,
see ``sampling.hash_bucket``), replayed bit-for-bit by the DuckDB oracle.
Every count is an exact integer; the ONLY approximation is bucket
collision, which is itself deterministic given (depth, width, salt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._util import attach_scalar

_TOKEN_RE = r"\s+"


def _bucket(row_j, tok, width: int, salt: str):
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), row_j.cast("string"),
                           F.lit(":"), tok)),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    return F.pmod(h, F.lit(int(width)))


def cms_build(docs: DataFrame, depth: int = 4, width: int = 1024,
              text_col: str = "text", salt: str = "cms") -> DataFrame:
    """Build the sketch: one row per touched counter
    ``(row_j, bucket, cnt)`` with ``0 <= row_j < depth``.

    Untouched counters are implicitly zero (the estimate side coalesces),
    so the table is at most ``depth * width`` rows regardless of corpus
    size. Tokens are the whitespace-split non-empty words of ``text_col``.
    """
    if depth <= 0 or width <= 0:
        raise ValueError("depth and width must be positive")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.col(text_col), _TOKEN_RE, -1),
                     lambda x: F.length(x) > 0)
        ).alias("tok")
    )
    fan = toks.select(
        F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias("row_j"),
        "tok",
    )
    return (
        fan.select(
            "row_j",
            _bucket(F.col("row_j"), F.col("tok"), width, salt).alias("bucket"),
        )
        .groupBy("row_j", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cms_estimate(sketch: DataFrame, terms: DataFrame, depth: int = 4,
                 width: int = 1024, term_col: str = "term",
                 salt: str = "cms") -> DataFrame:
    """Point-query the sketch: ``(term, est)`` where ``est`` is the minimum
    over the ``depth`` rows of the term's counter (0 when never touched).

    The terms table is fanned out to its ``depth`` probe keys and
    equi-joined to the sketch — with the sketch bounded at depth*width
    rows, Spark broadcasts it and the probe never shuffles the terms side.
    """
    probes = terms.select(
        F.col(term_col).alias("term"),
        F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias("row_j"),
    )
    keyed = probes.withColumn(
        "bucket", _bucket(F.col("row_j"), F.col("term"), width, salt)
    )
    return (
        keyed.join(F.broadcast(sketch), ["row_j", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long")))
             .alias("est"))
    )


def _hll_alpha(m: int):
    """HyperLogLog bias constant as an exact rational (num, den) — Flajolet
    et al. 2007 §4: 0.673 / 0.697 / 0.709 for m = 16/32/64, and
    0.7213/(1 + 1.079/m) = 7213*m / (10000*m + 10790) above."""
    if m == 16:
        return 673, 1000
    if m == 32:
        return 697, 1000
    if m == 64:
        return 709, 1000
    return 7213 * m, 10000 * m + 10790


_HLL_HASH_BITS = 60   # 15 md5 hex chars -> fits signed 64-bit exactly
_HLL_SHIFT = 45       # 2^(SHIFT - rho) harmonic terms; rho > SHIFT -> 0
_HLL_PRE = 20         # alpha*m*m pre-scaled by 2^PRE before the final shift


def _hll_consts(p: int):
    if not 4 <= p <= 8:
        # the integer estimator needs alpha*m^2*2^SHIFT < 2^63; p <= 8
        # keeps every intermediate in bigint. Production HLL at p=14 would
        # use the float estimator; this operator trades register count for
        # a bit-exact cross-engine contract.
        raise ValueError("p must be in [4, 8]")
    m = 1 << p
    rem_bits = _HLL_HASH_BITS - p
    a_num, a_den = _hll_alpha(m)
    # alpha * m^2 * 2^PRE, integer-floored once in Python (exact bigint)
    pre = (a_num * m * m * (1 << _HLL_PRE)) // a_den
    return m, rem_bits, pre


def _hll_lc_table(m: int):
    """Linear-counting estimates ``round(m * ln(m / V))`` for every possible
    zero-register count V in 1..m, precomputed in Python as exact integers
    and embedded as a literal array on BOTH engines — the float ln never
    runs inside either engine, so the small-range correction is as
    deterministic as the raw estimator."""
    import math

    return [int(m * math.log(m / v) + 0.5) for v in range(1, m + 1)]


def hll_build(df: DataFrame, group_cols, value_col: str, p: int = 6,
              salt: str = "hll") -> DataFrame:
    """HyperLogLog registers per group: ``(groups..., bucket, max_rho)``.

    The sketch of a group is its <= 2^p register rows — constant-size per
    group regardless of how many values stream through, mergeable across
    corpus shards by ``max`` (union the rows, re-aggregate), and a pure
    function of the value set: the hash is 60 bits of md5 (15 hex chars,
    the repo-standard ``conv`` construction), the bucket is the top ``p``
    bits, and ``rho`` = 1 + leading zeros of the remaining bits, computed
    as string-length integer arithmetic (``length(bin(rem))``) so DuckDB
    replays it bit-for-bit — no float, no engine-specific clz.

    Spark shape: one narrow projection then one hash aggregate; map-side
    partial combine bounds every task's shuffle contribution at
    ``groups x 2^p`` rows — the classic sketch property that makes distinct
    counting feasible when the exact distinct table is itself TB-sized.
    """
    m, rem_bits, _ = _hll_consts(p)
    group_cols = list(group_cols)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.lit(":"),
                           F.col(value_col).cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    keyed = df.select(
        *group_cols,
        h.alias("_h"),
    ).select(
        *group_cols,
        F.expr("_h div {d}".format(d=1 << rem_bits)).alias("bucket"),
        F.pmod(F.col("_h"), F.lit(1 << rem_bits)).alias("_rem"),
    ).select(
        *group_cols,
        "bucket",
        F.when(F.col("_rem") == 0, F.lit(rem_bits + 1))
        .otherwise(F.lit(rem_bits + 1) - F.length(F.bin(F.col("_rem"))))
        .cast("int")
        .alias("_rho"),
    )
    return (
        keyed.groupBy(*group_cols, "bucket")
        .agg(F.max("_rho").alias("max_rho"))
    )


def hll_estimate(registers: DataFrame, group_cols, p: int = 6) -> DataFrame:
    """Raw HLL cardinality estimate per group from a ``hll_build`` table:
    ``(groups..., v_zero, est)``.

    All integer arithmetic: the harmonic sum uses terms ``2^(45 - rho)``
    over a common denominator 2^45 (terms with rho > 45 floor to zero —
    a < 2^-45 relative truncation, deterministic on both engines), absent
    registers contribute the full ``2^45`` each, and the final estimate is
    ``(alpha*m^2*2^20 div 1) * 2^25 div S`` with every constant
    pre-folded in Python. ``v_zero`` (empty-register count) is emitted so
    consumers can apply linear-counting bias correction; the raw estimator
    is the deterministic contract.
    """
    m, _, pre = _hll_consts(p)
    group_cols = list(group_cols)
    term = F.when(
        F.col("max_rho") <= _HLL_SHIFT,
        F.expr("shiftleft(1L, {s} - max_rho)".format(s=_HLL_SHIFT)),
    ).otherwise(F.lit(0).cast("long"))
    agg = registers.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("_n_reg"),
        F.sum(term).cast("long").alias("_s_present"),
    )
    s_total = (
        F.col("_s_present")
        + (F.lit(m) - F.col("_n_reg")) * F.lit(1 << _HLL_SHIFT).cast("long")
    )
    lc = _hll_lc_table(m)
    lc_arr = "array({})".format(",".join("{}L".format(x) for x in lc))
    return agg.select(
        *group_cols,
        (F.lit(m) - F.col("_n_reg")).cast("long").alias("v_zero"),
        (
            F.lit(pre).cast("long")
            * F.lit(1 << (_HLL_SHIFT - _HLL_PRE)).cast("long")
        ).alias("_num"),
        F.greatest(s_total.cast("long"), F.lit(1).cast("long")).alias("_den"),
    ).select(
        *group_cols,
        "v_zero",
        F.expr("_num div _den").cast("long").alias("_raw"),
    ).select(
        *group_cols,
        "v_zero",
        # small-range correction (Flajolet et al. 2007 §4): when the raw
        # estimate is below 5m/2 and empty registers remain, linear
        # counting m*ln(m/V) is the better estimator — looked up from the
        # precomputed integer table (V has only m possible values).
        F.expr(
            "CASE WHEN v_zero > 0 AND _raw <= {thresh}L "
            "THEN element_at({arr}, CAST(v_zero AS INT)) "
            "ELSE _raw END".format(thresh=(5 * m) // 2, arr=lc_arr)
        ).cast("long").alias("est"),
    )


def hll_distinct(df: DataFrame, group_cols, value_col: str, p: int = 6,
                 salt: str = "hll") -> DataFrame:
    """``hll_build`` + ``hll_estimate`` in one call:
    ``(groups..., v_zero, est)`` — one shuffle for the registers, one
    (tiny, <= groups x 2^p rows) for the per-group fold."""
    return hll_estimate(
        hll_build(df, group_cols, value_col, p=p, salt=salt),
        group_cols, p=p,
    )


def hll_oracle_sql(source_sql: str, group_col: str, value_col: str,
                   p: int = 6, salt: str = "hll") -> str:
    """DuckDB replay of ``hll_distinct`` plus the exact distinct count:
    ``(group, v_zero, est, exact)`` ordered by group."""
    m, rem_bits, pre = _hll_consts(p)
    lc_list = "[{}]".format(",".join(str(x) for x in _hll_lc_table(m)))
    return f"""
WITH src AS ({source_sql}),
hashed AS (
  SELECT {group_col} AS grp,
         CAST(('0x' || substring(md5('{salt}:' || CAST({value_col} AS VARCHAR)),
                                 1, 15)) AS BIGINT) AS h
  FROM src),
keyed AS (
  SELECT grp, h // {1 << rem_bits} AS bucket, h % {1 << rem_bits} AS rem
  FROM hashed),
regs AS (
  SELECT grp, bucket,
         MAX(CASE WHEN rem = 0 THEN {rem_bits + 1}
                  ELSE {rem_bits + 1} - length(bin(rem)) END) AS max_rho
  FROM keyed GROUP BY grp, bucket),
folded AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n_reg,
         CAST(SUM(CASE WHEN max_rho <= {_HLL_SHIFT}
                       THEN (CAST(1 AS BIGINT) << ({_HLL_SHIFT} - max_rho))
                       ELSE 0 END) AS BIGINT) AS s_present
  FROM regs GROUP BY grp),
raw AS (
  SELECT grp,
         CAST({m} - n_reg AS BIGINT) AS v_zero,
         CAST(({pre} * {1 << (_HLL_SHIFT - _HLL_PRE)}) //
              GREATEST(s_present + ({m} - n_reg) *
                       (CAST(1 AS BIGINT) << {_HLL_SHIFT}), 1)
              AS BIGINT) AS est_raw
  FROM folded),
est AS (
  SELECT grp, v_zero,
         CAST(CASE WHEN v_zero > 0 AND est_raw <= {(5 * m) // 2}
                   THEN ({lc_list})[CAST(v_zero AS INT)]
                   ELSE est_raw END AS BIGINT) AS est
  FROM raw),
exact AS (
  SELECT {group_col} AS grp,
         CAST(COUNT(DISTINCT {value_col}) AS BIGINT) AS exact
  FROM src GROUP BY {group_col})
SELECT e.grp AS {group_col}, e.v_zero, e.est, x.exact
FROM est e JOIN exact x USING (grp)
ORDER BY {group_col}
"""


def cms_oracle_sql(source_sql: str, terms_sql: str, depth: int, width: int,
                   salt: str = "cms") -> str:
    """DuckDB replay of build + estimate + the exact count comparison the
    contract query emits: (term, est, exact) — ``est >= exact`` always.
    """
    bucket = (
        "CAST(('0x' || substring(md5('{salt}' || CAST(j.row_j AS VARCHAR)"
        " || ':' || {tok}), 1, 8)) AS BIGINT) % {width}"
    )
    return f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                            t -> len(t) > 0)) AS tok
  FROM ({source_sql})),
fan AS (
  SELECT j.row_j, toks.tok,
         {bucket.format(salt=salt, tok='toks.tok', width=int(width))} AS bucket
  FROM toks, (SELECT unnest(range(0, {int(depth)})) AS row_j) j),
sketch AS (
  SELECT row_j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM fan GROUP BY row_j, bucket),
terms AS ({terms_sql}),
probes AS (
  SELECT terms.term, j.row_j,
         {bucket.format(salt=salt, tok='terms.term', width=int(width))} AS bucket
  FROM terms, (SELECT unnest(range(0, {int(depth)})) AS row_j) j),
est AS (
  SELECT p.term, MIN(COALESCE(s.cnt, 0)) AS est
  FROM probes p LEFT JOIN sketch s USING (row_j, bucket)
  GROUP BY p.term),
exact AS (
  SELECT tok AS term, CAST(COUNT(*) AS BIGINT) AS exact
  FROM toks GROUP BY tok)
SELECT e.term, CAST(e.est AS BIGINT) AS est,
       CAST(COALESCE(x.exact, 0) AS BIGINT) AS exact
FROM est e LEFT JOIN exact x USING (term)
ORDER BY term
"""


def hll_overlap(df_a: DataFrame, df_b: DataFrame, value_col: str,
                p: int = 6, salt: str = "hll") -> DataFrame:
    """Audience-overlap estimation by HLL SET ALGEBRA: estimate |A|, |B|,
    |A u B| (registers of the union = element-wise max of the two
    register tables — the mergeability property), then the intersection
    by inclusion-exclusion, floored at 0. One row:
    ``(est_a, est_b, est_union, est_inter, exact_inter)``.

    This is the sketch workflow that matters at 100 TB: per-shard /
    per-day register tables are tiny, precomputable, and UNION-able after
    the fact, so any audience intersection is answerable without
    re-scanning the corpus. ``exact_inter`` rides along (one distinct
    semi-join) so the contract query pins the estimator against truth.

    Inclusion-exclusion amplifies the +-1.04/sqrt(m) register noise when
    the true overlap is small relative to the union — inherent to the
    method (theta sketches fix this; out of scope), and why the floor at
    0 exists.
    """
    a = df_a.select(F.lit("a").alias("aud"), F.col(value_col).alias("v"))
    b = df_b.select(F.lit("b").alias("aud"), F.col(value_col).alias("v"))
    regs = hll_build(a.union(b), ["aud"], "v", p=p, salt=salt)\
        .localCheckpoint(eager=False)
    uregs = regs.groupBy("bucket").agg(
        F.max("max_rho").alias("max_rho")).select(
        F.lit("u").alias("aud"), "bucket", "max_rho")
    ests = hll_estimate(regs.unionByName(uregs), ["aud"], p=p)
    piv = ests.agg(
        F.max(F.when(F.col("aud") == "a", F.col("est"))).alias("est_a"),
        F.max(F.when(F.col("aud") == "b", F.col("est"))).alias("est_b"),
        F.max(F.when(F.col("aud") == "u", F.col("est"))).alias("est_union"),
    )
    exact = (
        df_a.select(F.col(value_col).alias("v")).distinct()
        .join(df_b.select(F.col(value_col).alias("v")).distinct(), on="v")
        .agg(F.count("*").cast("long").alias("exact_inter"))
    )
    return attach_scalar(piv, exact).select(
        "est_a", "est_b", "est_union",
        F.greatest(F.col("est_a") + F.col("est_b") - F.col("est_union"),
                   F.lit(0).cast("long")).alias("est_inter"),
        "exact_inter",
    )


def hll_overlap_oracle_sql(src_a: str, src_b: str, value_col: str,
                           p: int = 6, salt: str = "hll") -> str:
    """DuckDB replay of :func:`hll_overlap` — same register build, union
    by max, integer estimator and inclusion-exclusion."""
    m, rem_bits, pre = _hll_consts(p)
    lc_list = "[{}]".format(",".join(str(x) for x in _hll_lc_table(m)))
    return f"""
WITH a AS ({src_a}), b AS ({src_b}),
tagged AS (
  SELECT 'a' AS grp, {value_col} AS v FROM a
  UNION ALL SELECT 'b', {value_col} FROM b),
hashed AS (
  SELECT grp,
         CAST(('0x' || substring(md5('{salt}:' || CAST(v AS VARCHAR)),
                                 1, 15)) AS BIGINT) AS h
  FROM tagged),
keyed AS (
  SELECT grp, h // {1 << rem_bits} AS bucket, h % {1 << rem_bits} AS rem
  FROM hashed),
regs AS (
  SELECT grp, bucket,
         MAX(CASE WHEN rem = 0 THEN {rem_bits + 1}
                  ELSE {rem_bits + 1} - length(bin(rem)) END) AS max_rho
  FROM keyed GROUP BY grp, bucket),
uregs AS (
  SELECT 'u' AS grp, bucket, MAX(max_rho) AS max_rho
  FROM regs GROUP BY bucket),
allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM uregs),
folded AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n_reg,
         CAST(SUM(CASE WHEN max_rho <= {_HLL_SHIFT}
                       THEN (CAST(1 AS BIGINT) << ({_HLL_SHIFT} - max_rho))
                       ELSE 0 END) AS BIGINT) AS s_present
  FROM allregs GROUP BY grp),
raw AS (
  SELECT grp,
         CAST({m} - n_reg AS BIGINT) AS v_zero,
         CAST(({pre} * {1 << (_HLL_SHIFT - _HLL_PRE)}) //
              GREATEST(s_present + ({m} - n_reg) *
                       (CAST(1 AS BIGINT) << {_HLL_SHIFT}), 1)
              AS BIGINT) AS est_raw
  FROM folded),
est AS (
  SELECT grp,
         CAST(CASE WHEN v_zero > 0 AND est_raw <= {(5 * m) // 2}
                   THEN ({lc_list})[CAST(v_zero AS INT)]
                   ELSE est_raw END AS BIGINT) AS est
  FROM raw),
piv AS (
  SELECT MAX(CASE WHEN grp = 'a' THEN est END) AS est_a,
         MAX(CASE WHEN grp = 'b' THEN est END) AS est_b,
         MAX(CASE WHEN grp = 'u' THEN est END) AS est_union
  FROM est),
exact AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_inter FROM (
    SELECT DISTINCT {value_col} AS v FROM a
    INTERSECT
    SELECT DISTINCT {value_col} FROM b) t)
SELECT est_a, est_b, est_union,
       GREATEST(est_a + est_b - est_union, 0) AS est_inter, exact_inter
FROM piv CROSS JOIN exact
"""


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    key_col: str,
    k: int = 256,
    pcts: tuple = (1, 5, 25, 50, 75, 95, 99),
    salt: str = "qs",
) -> DataFrame:
    """Bottom-k (KMV-style) quantile sketch: the k rows with the smallest
    md5 key hashes are a DETERMINISTIC uniform sample of fixed size, and
    exact order statistics over that sample estimate the percentiles.

    Returns ``(pctl, est_value, sample_n)`` with ``est_value`` the sample
    order statistic at 1-based rank ``(pctl * n + 99) div 100`` (ceil for
    positive ints — the rfm quantile convention).

    Why this shape: the sketch is MERGEABLE (union two bottom-k samples
    and re-take the bottom k = the bottom-k of the union — see the test
    pinning sketch(A∪B) == merge(sketch(A), sketch(B))), its memory is
    bounded by k regardless of corpus size, and Spark plans the bottom-k
    as TakeOrderedAndProject: every partition keeps only its k smallest
    hashes, the driver merges k-sized heaps — no global sort, no corpus
    shuffle.  The final order statistics run as pure expressions over ONE
    collect_list row (bounded at k entries), so there is no window and no
    1-row BNLJ anywhere.
    """
    if k < 1 or not pcts:
        raise ValueError("k >= 1 and at least one percentile required")
    if any(p < 1 or p > 100 for p in pcts):
        raise ValueError("percentiles must be in [1, 100]")
    hk = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"),
                           F.col(key_col).cast("string"))), 1, 8),
        16, 10).cast("long")
    samp = (
        df.select(F.col(value_col).cast("long").alias("v"),
                  hk.alias("hk"))
        .orderBy("hk")
        .limit(int(k))
    )
    one = samp.agg(
        F.sort_array(F.collect_list(F.struct("v", "hk"))).alias("arr"),
        F.count("*").cast("long").alias("n"),
    )
    rows = F.array(*[
        F.struct(
            F.lit(int(p)).cast("int").alias("pctl"),
            F.when(
                F.col("n") > 0,
                F.element_at(
                    F.col("arr"),
                    F.expr("({p} * n + 99) div 100".format(p=int(p)))
                    .cast("int"))["v"]).alias("est_value"),
            F.col("n").alias("sample_n"),
        )
        for p in sorted(pcts)
    ])
    return (
        one.select(F.explode(rows).alias("r"))
        .select("r.pctl", "r.est_value", "r.sample_n")
    )


def kmv_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    k: int = 256,
    salt: str = "kmv",
) -> DataFrame:
    """KMV (bottom-k) set-overlap sketch (Beyer et al. 2007): estimate
    |A ∪ B|, |A ∩ B| and Jaccard(A, B) from each side's k smallest
    DISTINCT md5 hashes — the direct-intersection complement of
    ``hll_overlap`` (no inclusion–exclusion cancellation, so small
    intersections of large sets estimate far better), and mergeable the
    same way (union two bottom-k samples, re-take the bottom k).

    Estimator (all integer arithmetic, deterministic cross-engine): with
    the combined sample's k-th smallest hash ``kth`` over the 2^32 hash
    space, ``union_est = ((k-1) * 2^32) div kth``;
    ``jaccard_ppm = (overlap_in_sample * 1e6) div n``;
    ``inter_est = (overlap_in_sample * union_est) div n``.  When the
    combined sample is short (n < k) the sketch HOLDS the full union and
    every output is exact (union_est = n).

    Scale shape: each side is a partial-distinct + TakeOrderedAndProject
    (per-partition k-heaps, no global sort); everything after the two
    k-sized samples is 2k rows; the answer is ONE row.  Shuffle volume is
    bounded by per-partition distinct counts, never row count.
    """
    if k < 1:
        raise ValueError("k must be >= 1")

    def bottom(df, a, b):
        hk = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"),
                               F.col(value_col).cast("string"))), 1, 8),
            16, 10).cast("long")
        return (
            df.select(hk.alias("hk")).distinct()
            .orderBy("hk").limit(int(k))
            .select("hk", F.lit(a).alias("a"), F.lit(b).alias("b"))
        )

    u = (
        bottom(df_a, 1, 0).union(bottom(df_b, 0, 1))
        .groupBy("hk")
        .agg(F.max("a").alias("a"), F.max("b").alias("b"))
        .orderBy("hk").limit(int(k))
    )
    s = u.agg(
        F.count("*").cast("long").alias("sample_n"),
        F.coalesce(F.max("hk"), F.lit(0)).cast("long").alias("kth_hash"),
        F.coalesce(F.sum(F.col("a") * F.col("b")), F.lit(0)).cast("long")
        .alias("overlap_n"),
    )
    union_est = F.when(
        (F.col("sample_n") < k) | (F.col("kth_hash") <= 0),
        F.col("sample_n"),
    ).otherwise(
        F.expr("(({k} - 1) * 4294967296L) div kth_hash".format(k=int(k))))
    return s.select(
        "sample_n", "kth_hash", "overlap_n",
        union_est.alias("union_est"),
    ).select(
        "sample_n", "kth_hash", "overlap_n", "union_est",
        F.when(F.col("sample_n") > 0,
               F.expr("(overlap_n * union_est) div sample_n"))
        .otherwise(F.lit(0)).cast("long").alias("inter_est"),
        F.when(F.col("sample_n") > 0,
               F.expr("(overlap_n * 1000000L) div sample_n"))
        .otherwise(F.lit(0)).cast("long").alias("jaccard_ppm"),
    )


# --------------------------------------------------------------------------
# Heavy hitters: deterministic sample-candidates + exact recount.
# --------------------------------------------------------------------------

def heavy_hitters(
    docs: DataFrame,
    k: int = 20,
    sample_ppm: int = 100000,
    cand_factor: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "hh0",
) -> DataFrame:
    """Exact top-k corpus terms WITHOUT shuffling the full vocabulary:
    a two-pass candidates-then-verify heavy hitter.

    Pass 1 tokenizes only a deterministic hash sample of documents
    (``sample_ppm`` of them, the repo's md5-bucket rule — never RNG) and
    ranks the sample vocabulary; the top ``k * cand_factor`` become
    candidates.  Pass 2 recounts ONLY candidate terms over the full
    corpus (broadcast semi-join at the scan) and emits the exact top-k
    among them as ``(rnk, word, n, n_sample)``.

    Why: at 100 TB the exploded token stream's groupBy key space is the
    full vocabulary — hundreds of millions of keys shuffled for 20
    winners.  Here the full-corpus pass aggregates k*cand_factor keys
    (map-side combine collapses everything before the exchange), and the
    vocabulary-sized aggregate runs on the small sample only.

    Containment is probabilistic in the usual heavy-hitter sense (a true
    top-k term could miss the candidate set if the sample underestimates
    it), but the PIPELINE is a pure function of (salt, ids, texts) —
    both engines replay it bit-for-bit, and the exactness claim is "the
    exact counts and ranking of the candidate set".
    """
    from .sampling import hash_sample

    def words(df):
        return df.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
            .alias("word")
        ).filter(F.col("word") != "")

    samp_counts = (
        words(hash_sample(docs, sample_ppm / 10**6,
                          id_col=id_col, salt=salt))
        .groupBy("word").agg(F.count("*").cast("long").alias("n_sample"))
    )
    w_all = Window.orderBy(F.desc("n_sample"), F.asc("word"))
    cands = (
        samp_counts.withColumn("_r", F.row_number().over(w_all))
        .filter(F.col("_r") <= int(k) * int(cand_factor))
        .drop("_r")
    )
    exact = (
        words(docs)
        .join(F.broadcast(cands), on="word")
        .groupBy("word", "n_sample")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w_top = Window.orderBy(F.desc("n"), F.asc("word"))
    return (
        exact.withColumn("rnk", F.row_number().over(w_top))
        .filter(F.col("rnk") <= int(k))
        .select("rnk", "word", "n", "n_sample")
    )


def ams_f2(df: DataFrame, key_col: str = "key", k: int = 16,
           salt: str = "ams0") -> DataFrame:
    """AMS (Alon-Matias-Szegedy) second-moment sketch — the one-pass
    F2 = sum of squared key frequencies estimator, the classic
    join-size / self-join-size / skew estimate a planner reads before
    choosing a strategy (F2/n^2 is also a concentration read).  Each of
    ``k`` estimators keeps one counter ``Z_r = sum over rows of
    s_r(key)`` with a ±1 sign per (estimator, key); ``E[Z_r^2] = F2``
    exactly.  The signs come from one md5 per DISTINCT key VALUE per
    row — bit ``r`` of the first 32 hash bits (md5 plays the 4-wise
    hash; one hash feeds all k estimators).  Output is ONE row:

        n_rows        rows consumed
        f2_median     lower median of the k estimates (the AMS
                      median-of-means robustness step; k/2-th smallest
                      — percentile_disc convention, deterministic)
        f2_mean       floor(sum of estimates / k)

    Everything is an exact integer and a pure function of (input
    multiset, k, salt) — the DuckDB oracle replays the identical
    bit-sign sums.  |Z_r| <= n so each estimate fits int64 to n ~ 3e9;
    the mean accumulates in decimal(38,0).

    Scale shape: ONE map-side-combined aggregate with k conditional
    sums (one md5 + k bit-extracts per row, all codegen); the median
    runs over the k-element literal array.  Mergeable: Z vectors from
    shards ADD — re-aggregate partials and finalize identically.
    """
    if k < 2 or k > 32:
        # k // 2 is the 1-based median index: k = 1 would ask for index 0
        raise ValueError("need 2 <= k <= 32 (one 32-bit hash word; the"
                         " median needs k >= 2)")
    h = F.conv(F.substring(F.md5(F.concat(
        F.lit(salt + ":"), F.col(key_col).cast("string"))), 1, 8),
        16, 10).cast("long")
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for r in range(k):
        aggs.append(
            F.sum(F.lit(1) - 2 * F.expr(
                "shiftright(_h, {r}) & 1".format(r=r)))
            .cast("long").alias("z{}".format(r)))
    g = df.select(h.alias("_h")).agg(*aggs)
    ests = "array({})".format(", ".join(
        "z{r} * z{r}".format(r=r) for r in range(k)))
    return g.select(
        "n_rows",
        F.expr("element_at(array_sort({e}), {m})".format(
            e=ests, m=k // 2)).cast("long").alias("f2_median"),
        F.expr(
            "cast(div(aggregate({e}, cast(0 as decimal(38,0)),"
            " (acc, v) -> acc + cast(v as decimal(38,0))), {k}) as bigint)".format(
                e=ests, k=k)).alias("f2_mean"),
    )
