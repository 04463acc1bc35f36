"""Deterministic sampling, splitting, and dataset mixing.

The reference never samples (739 rows need no subset; its only split is
the chronological TimeSeriesSplit of notebooks/models.ipynb:307-312,
covered by ml/regression.py). A 100 TB training-data pipeline, by
contrast, lives on these three operations, and at that scale they must
be DETERMINISTIC — a `rand()` sample changes under task retries and
AQE re-planning, silently leaking validation rows into training
between runs. So every operator here derives its randomness from a
keyed integer hash:

    h(key, salt) = LCG2(LCG1(key + salt))  over the prime 2^31 - 1

two multiplicative-congruential rounds in exact int64 arithmetic — the
same engine-portable-primitive family as the rolling-hash fingerprint
(operators/text.py), so DuckDB reproduces every decision bit-for-bit
and the driver's oracle gate can hash-compare actual sample membership,
not just counts.

Scale shape: all three operators are a scan + a per-row projection +
a filter — no shuffle, no state, embarrassingly parallel, and the
filter sits directly on the scan so Catalyst keeps whole-stage codegen.
Rows keep their split/sample decision forever (stable under
re-partitioning, retries, and incremental re-runs over new data).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

MOD = 2147483647  # 2^31 - 1, prime (Mersenne)
_A1 = 1103515245  # glibc LCG multiplier
_B1 = 12345
_A2 = 48271  # Lehmer / MINSTD multiplier


def hash_bucket(key: Column, salt: int = 0) -> Column:
    """Uniform pseudo-random long in [0, MOD) from an integer key.
    Exact int64 arithmetic at every step (max intermediate < 2^61), so
    any engine with 64-bit integers computes the identical bucket.
    ``pmod`` (not ``%``, which is sign-of-dividend in both Spark and
    DuckDB) keeps the bucket in [0, MOD) even for negative keys; the
    later steps operate on non-negative values so plain ``%`` is safe
    there."""
    h1 = (F.pmod(key + F.lit(salt), F.lit(MOD)) * _A1 + _B1) % MOD
    return (h1 * _A2) % MOD


def avalanche_bucket(key: Column, salt: int | Column = 0) -> Column:
    """`hash_bucket` with TWO xorshift rounds woven between the
    affines — use where the JOINT distribution across keys carries
    the semantics, not just the per-key marginal. `hash_bucket` is
    affine in the key, so u(key+1) = frac(u(key) + const) at every
    salt: a rigid lattice. That is fine — often preferable
    (systematic sampling) — for keep/split thresholds, but it breaks
    Gumbel-top-k, whose "sample ∝ exp(weight)" guarantee needs
    independent noise ACROSS docs: measured top-1 win frequencies on
    adjacent ids were (0.235, 0.255, 0.255, 0.255) where softmax says
    (0.1, 0.2, 0.3, 0.4). One xorshift round leaves ~0.9% absolute
    residual bias (0.203/0.291/0.406 at 2M draws — >10 sigma); the
    second round lands (0.0999, 0.2003, 0.2997, 0.4000)
    (round 11, tools/stat_contract_probe.py). Same exact-int64
    portability class as hash_bucket (every product < 2^62); the SQL
    twin is `sql_avalanche_bucket`. ``salt`` may be a Column for
    per-row salts (repeated-draw statistical probes)."""
    if isinstance(salt, int):
        salt = F.lit(salt)
    h1 = (F.pmod(key + salt, F.lit(MOD)) * _A1 + _B1) % MOD
    h2 = (h1.bitwiseXOR(F.shiftright(h1, 15)) * _A2) % MOD
    return (h2.bitwiseXOR(F.shiftright(h2, 13)) * _A1 + _B1) % MOD


def deterministic_sample(df: DataFrame, key: str, fraction: float, salt: int = 0) -> DataFrame:
    """Keep ~``fraction`` of rows, decided per-row by ``hash_bucket`` of
    ``key`` — stable across runs/retries, unlike ``df.sample``."""
    return df.filter(hash_bucket(F.col(key), salt) < int(fraction * MOD))


def split_column(key: Column, weights: Mapping[str, float], salt: int = 0) -> Column:
    """Label each row with a split name ('train'/'val'/'test'/...),
    proportioned by ``weights``. Hash the GROUPING key (user id,
    document id) rather than a row id to keep correlated rows in one
    split — that is what prevents train/test leakage."""
    total = float(sum(weights.values()))
    h = hash_bucket(key, salt)
    expr: Column | None = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = h < int(acc * MOD)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(names[-1])


def weighted_mix(
    df: DataFrame, key: str, stratum: str, rates: Mapping[str, float],
    default_rate: float = 1.0, salt: int = 0,
) -> DataFrame:
    """Down/up-weight strata of one table into a training mixture: keep
    each row with its stratum's rate (rates > 1 are capped at 1 —
    up-sampling needs row duplication, which breaks the one-decision-
    per-row determinism this module guarantees).

    The canonical use is rebalancing a language- or source-skewed
    corpus. One scan, no shuffle; the per-stratum threshold comes from
    a literal CASE expression, so the filter still pushes to the scan.
    """
    thresh: Column = F.lit(int(min(default_rate, 1.0) * MOD))
    for name, rate in rates.items():
        thresh = F.when(F.col(stratum) == name, int(min(rate, 1.0) * MOD)).otherwise(thresh)
    return df.filter(hash_bucket(F.col(key), salt) < thresh)


def pack_sequences(
    df: DataFrame, order_key: str, token_col: str, budget: int, stratum: str,
) -> DataFrame:
    """Sequential greedy sequence packing: walking each stratum in
    ``order_key`` order, assign every row a ``pack_id`` so that packs
    hold contiguous runs of ~``budget`` tokens — the batch-construction
    step of an LLM training pipeline (documents → fixed-token-budget
    packs). A pack may overflow by at most one document; packs are
    never split across strata.

    Shape: one window cumsum partitioned by ``stratum`` — a single
    shuffle, parallel across strata, exact integer arithmetic (so the
    DuckDB oracle reproduces every assignment). True bin-packing
    (first-fit-decreasing) would need global sequential state for a
    ~few-% density win; contiguous greedy packing is what distributed
    tokenizer pipelines actually ship.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(stratum)
        .orderBy(order_key)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_col).over(w)
    before = cum - F.col(token_col)  # tokens already packed in this stratum
    return df.withColumn("pack_id", F.floor(before / F.lit(budget)).cast("long"))


def stratified_fixed_n(
    df: DataFrame, key: str, stratum: str, n: int, salt: int = 0
) -> DataFrame:
    """EXACTLY ``n`` rows per stratum (or all of a smaller stratum),
    chosen by ranking each stratum on the keyed hash — the
    quota-sampling complement to ``weighted_mix``'s rate-based
    thinning (eval-set construction wants fixed counts, not fractions).

    Deterministic like everything here: the hash order is a pure
    function of ``key``, with the key itself as tiebreak.
    PRECONDITIONS the tiebreak relies on: ``key`` must be an INTEGER
    column (the hash does int64 arithmetic — a string key fails
    analysis) and UNIQUE within each stratum — duplicate keys share an
    identical (hash, key) sort tuple, so rows straddling the rank<=n
    cutoff would be chosen arbitrarily, breaking the determinism
    contract. One shuffle
    on the stratum; the rank<=n filter rides Spark's WindowGroupLimit,
    so each map task forwards at most ``n`` rows per stratum and the
    Exchange carries O(strata x n) rows — this stays cheap even when
    one stratum is 90% of a 100 TB corpus.

    The rank hash is ``avalanche_bucket`` (round 12): "the n smallest
    hashes" is a top-n ACROSS keys — a joint statistic — and the
    affine `hash_bucket` lattice makes that selection systematic, not
    uniform (a quota drawn from sequential ids would be an arithmetic
    stride, exactly the HLL/Gumbel bug class). The SQL twin is
    `sql_avalanche_bucket` with the same salt."""
    from pyspark.sql import Window

    w = Window.partitionBy(stratum).orderBy(
        avalanche_bucket(F.col(key), salt), F.col(key)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def sql_hash_bucket(key_expr: str, salt: int = 0) -> str:
    """The ANSI-SQL twin of ``hash_bucket`` for oracle queries.
    The first reduction is a portable pmod (``%`` then +MOD then ``%``)
    to mirror ``hash_bucket``'s negative-key behavior."""
    pm = f"((({key_expr} + {salt}) % {MOD}) + {MOD}) % {MOD}"
    h1 = f"(({pm}) * {_A1} + {_B1}) % {MOD}"
    return f"(({h1}) * {_A2}) % {MOD}"


def sql_avalanche_bucket(key_expr: str, salt: int = 0) -> str:
    """The ANSI/DuckDB twin of ``avalanche_bucket`` (DuckDB `xor`/`>>`
    match Spark's bitwiseXOR/shiftright on BIGINT exactly). Each
    intermediate term is spelled multiple times — pass a column
    reference, not a subquery."""
    pm = f"((({key_expr} + {salt}) % {MOD}) + {MOD}) % {MOD}"
    h1 = f"((({pm}) * {_A1} + {_B1}) % {MOD})"
    h2 = f"(((xor({h1}, {h1} >> 15)) * {_A2}) % {MOD})"
    return f"((xor({h2}, {h2} >> 13)) * {_A1} + {_B1}) % {MOD}"


def spark_sql_avalanche_bucket(key_expr: str, salt: int = 0) -> str:
    """``avalanche_bucket`` as Spark SQL text, for keys that are lambda
    variables inside a SQL higher-order function (Spark spells xor
    ``^``, which is DuckDB's power operator, hence the two twins).
    Each intermediate term is spelled multiple times — pass a column
    reference or a lambda variable."""
    h1 = f"((pmod({key_expr} + {salt}, {MOD}) * {_A1} + {_B1}) % {MOD})"
    h2 = f"((({h1} ^ shiftright({h1}, 15)) * {_A2}) % {MOD})"
    return f"((({h2} ^ shiftright({h2}, 13)) * {_A1} + {_B1}) % {MOD})"


def sql_split_case(key_expr: str, weights: Mapping[str, float], salt: int = 0) -> str:
    """ANSI-SQL twin of ``split_column``."""
    total = float(sum(weights.values()))
    h = sql_hash_bucket(key_expr, salt)
    parts, acc = [], 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        parts.append(f"WHEN {h} < {int(acc * MOD)} THEN '{name}'")
    return "CASE " + " ".join(parts) + f" ELSE '{names[-1]}' END"


def training_order(
    df: DataFrame,
    key: str = "doc_id",
    n_shards: int = 8,
    salt: int = 13,
) -> DataFrame:
    """Deterministic global shuffle for training-data export: assign
    every row a (shard, pos) such that reading shards in order yields a
    pseudorandom — but perfectly reproducible — document order. This is
    the step between a curated corpus and a data loader: training wants
    decorrelated order, retries/re-runs must not change it, and
    different epochs want different permutations (bump ``salt``).

    shard = h_salt(key) mod n_shards picks the output file; pos ranks
    within the shard by an independently-salted hash. The rank window
    partitions on shard, so at 100 TB this is ONE shuffle of (key,
    2 hashes) — the payload follows in the write — and each shard
    sorts independently (set n_shards ~ executor count; the shard is
    the output-file partition key). No global sort ever happens, which
    is the point: a naive ORDER BY rand() is a single-ordering total
    sort AND unstable under retries.

    Both hashes are ``avalanche_bucket`` (round 12): a permutation is
    the ultimate JOINT statistic, and ordering by the affine
    `hash_bucket` is not a pseudorandom order at all — sorting
    sequential keys by an affine map walks an arithmetic lattice
    (three-distance theorem: measured 7 distinct consecutive-id gaps
    at 100k docs where iid gives ~n/2 = 73,714, with lag-1 id
    autocorrelation -0.123 vs the 0.006 iid bound —
    tools/stat_contract_probe.py:probe_training_order, round 12). A
    training order whose neighbors sit a few fixed strides apart
    re-correlates whatever the id encodes (time, source, crawl
    shard). The avalanche order measures iid-like on the same probe.
    SQL twin: `sql_avalanche_bucket`, same salts.
    """
    from pyspark.sql import Window

    hs = avalanche_bucket(F.col(key), salt=salt)
    ho = avalanche_bucket(F.col(key), salt=salt + 1)
    staged = df.select(
        F.col(key),
        F.pmod(hs, F.lit(n_shards)).cast("int").alias("shard"),
        ho.alias("_ho"),
    )
    w = Window.partitionBy("shard").orderBy("_ho", key)
    return staged.withColumn("pos", F.row_number().over(w).cast("int")).drop("_ho")


def temperature_mix_rates(
    df: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.3,
    budget_frac: float = 0.5,
) -> DataFrame:
    """The |groups|-row threshold frame of ``temperature_mix_flags``,
    exposed (round 13, guide §2.4) so a caller that flags the same
    frame repeatedly — the curation decision record assembles per
    call over persisted stages — can compute the census ONCE and pass
    it back via ``rates=`` instead of paying a corpus aggregation per
    assembly. Pure function of ``df``; same arithmetic as the inline
    path (the cancelled n_l^a / sum n_m^a form, identical rounding)."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    totals = counts.agg(
        F.sum("_n").alias("_tot"),
        F.sum(F.pow(F.col("_n").cast("double"), F.lit(alpha))).alias("_zraw"),
    )
    # p_l = (n_l/N)^a / sum_m (n_m/N)^a  ==  n_l^a / sum_m n_m^a
    # (the N^a factors cancel — compute the cancelled form in BOTH
    # engines so float noise cannot differ)
    return counts.crossJoin(F.broadcast(totals)).select(
        group_col,
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(budget_frac)
                * F.col("_tot")
                * (F.pow(F.col("_n").cast("double"), F.lit(alpha)) / F.col("_zraw"))
                / F.col("_n"),
            )
            * MOD
        )
        .cast("long")
        .alias("_thresh"),
    )


def temperature_mix_flags(
    df: DataFrame,
    group_col: str = "lang",
    key: str = "doc_id",
    alpha: float = 0.3,
    budget_frac: float = 0.5,
    salt: int = 17,
    keep_all: bool = False,
    rates: DataFrame | None = None,
) -> DataFrame:
    """Temperature-scaled multilingual sampling (the mT5/XLM-R alpha
    mix): target share of group l is p_l ∝ (n_l/N)^alpha, which
    up-samples tail languages relative to their natural frequency
    (alpha=1 keeps natural proportions, alpha→0 approaches uniform).
    Every row gets a DETERMINISTIC keep flag — hash(key) against the
    group's integer threshold round(min(1, B·p_l/n_l)·MOD) where
    B = budget_frac·N — so the mix is stable under retries and
    re-runs, and the driver gate can hash-compare each decision bit.

    Plan: one small groupBy for the language census, a 1-row totals
    frame, and a broadcast join of the per-group thresholds back onto
    the scan — the corpus itself never shuffles. At 100 TB the census
    is the only aggregation and it is |languages|-sized.

    ``keep_all`` (round 13, guide §3): join the thresholds LEFT instead
    of inner, so the output carries one row per input row even when
    ``group_col`` is NULL (NULL groups never equi-join; their
    ``keep_temp`` comes out NULL). The kept slice
    (``keep_temp == 1``) is identical either way — the point is that
    presence-in-output becomes presence-in-input, letting a consumer
    that needs both "row existed" and "row sampled" flags read ONE
    frame instead of joining this one back onto its own input.

    ``rates`` (round 13, guide §2.4): a precomputed
    ``temperature_mix_rates(df, group_col, alpha, budget_frac)`` frame.
    The caller owns the contract that it WAS computed from this ``df``
    (it is a pure function of it, so reuse is value-identical); passing
    it skips the census aggregation — the win when the same frame is
    flagged many times over persisted stages.
    """
    if rates is None:
        rates = temperature_mix_rates(
            df, group_col=group_col, alpha=alpha, budget_frac=budget_frac
        )
    return df.join(F.broadcast(rates), group_col, "left" if keep_all else "inner").select(
        key,
        group_col,
        (hash_bucket(F.col(key), salt=salt) < F.col("_thresh"))
        .cast("int")
        .alias("keep_temp"),
    )


def weighted_sample(
    df: DataFrame,
    key: str,
    weight: Column | str,
    n: int,
    salt: int = 0,
    priority_col: str | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement of ``n`` rows
    (Efraimidis–Spirakis A-ES, the exponential-jumps formulation):
    each row draws priority -ln(u)/w from its deterministic hash
    uniform u and weight w; the n SMALLEST priorities win. Inclusion
    probability is proportional to weight, the decision is stable
    under retries/AQE like every sampler here, and the oracle can
    replay the exact draw (the avalanche uniform and ln are both
    engine-portable; priorities are rounded 9 dp with the key as
    tiebreak before ranking, absorbing last-ulp libm differences).

    The uniform comes from ``avalanche_bucket`` (round 12, ADVICE):
    A-ES is the same extreme-value/top-k-across-keys class as
    Gumbel-top-k — "the n smallest -ln(u)/w" only delivers inclusion
    ∝ weight when the u's are independent ACROSS keys, and the affine
    `hash_bucket` lattice measurably breaks that (the Gumbel twin's
    win frequencies were 0.235/0.255/0.255/0.255 vs a 0.1/0.2/0.3/0.4
    softmax target). Contract pinned in
    tests/test_stat_contracts.py::test_aes_inclusion_tracks_weight.

    Scale: orderBy(priority).limit(n) plans as TakeOrdered — each
    partition ships only its local top-n candidates, no global sort,
    no shuffle of the corpus."""
    w = F.col(weight) if isinstance(weight, str) else weight
    # u in (0, 1]: +1 keeps ln away from 0; exact-int hash then one division
    u = (avalanche_bucket(F.col(key), salt) + F.lit(1)).cast("double") / F.lit(float(MOD) + 1.0)
    priority = F.round(-F.log(u) / w, 9)
    out = (
        df.where(w > 0)
        .withColumn("_ws_priority", priority)
        .orderBy(F.col("_ws_priority"), F.col(key))
        .limit(n)
    )
    # like the sibling samplers, the helper column stays internal
    # unless the caller asks for it by name (oracle twins do)
    if priority_col is None:
        return out.drop("_ws_priority")
    return out.withColumnRenamed("_ws_priority", priority_col)


def sql_weighted_priority(key_expr: str, weight_expr: str, salt: int = 0) -> str:
    """ANSI-SQL twin of the A-ES priority — identical avalanche hash,
    ln and rounding, so ORDER BY (priority, key) LIMIT n reproduces
    the exact sample membership."""
    h2 = sql_avalanche_bucket(key_expr, salt)
    u = f"(CAST(({h2}) + 1 AS DOUBLE) / {float(MOD) + 1.0})"
    return f"round(-ln({u}) / ({weight_expr}), 9)"
