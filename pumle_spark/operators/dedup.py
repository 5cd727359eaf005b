"""Reusable deduplication operators (engine API behind the workload queries).

Scale design per variant:
- minhash_signatures / lsh_candidate_pairs: per-doc map + bucket join (the
  all-pairs join never happens).
- hamming_pairs over per-doc 64-bit signatures: the Hamming-ball pair
  search uses PREFIX BLOCKING (pigeonhole over b+1 blocks of the
  signature: two signatures within Hamming distance b share at least one
  exact block) — candidates come from equi-joins on block values, then the
  exact popcount filter runs on candidates only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


_NORM_SQL = "split(trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ')), ' ')"


def normalize_text(col: str = "text") -> F.Column:
    return F.split(F.trim(F.regexp_replace(F.lower(F.col(col)), "[^a-z0-9]+", " ")), " ")


def shingle_array(tokens_sql: str, n: int = 3) -> F.Column:
    """DISTINCT word n-gram shingles as a per-row array expression.
    `tokens_sql` must be a SQL expression yielding array<string>.

    CAVEAT (measured): only use when the array is consumed IN PLACE (sized,
    min-reduced, hashed) by a single downstream reference. Catalyst inlines
    this construction into Generate and into every lambda referencing it, so
    exploding the result or referencing it N times re-runs the construction
    per output row / per reference — the exploded-tokens + lead() window
    form (``shingles``) is faster whenever the shingle SET must be exploded.
    """
    parts = ", ".join(f"{tokens_sql}[i + {d}]" for d in range(n))
    return F.expr(
        f"CASE WHEN size({tokens_sql}) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size({tokens_sql}) - {n}), "
        f"i -> concat_ws(' ', {parts}))) "
        f"ELSE cast(array() as array<string>) END"
    )


def winnow_fp_array(gram: int, window: int, norm: str = "norm") -> F.Column:
    """Winnowing fingerprints (Schleimer et al. 2003) as ONE per-row array
    expression: all char-``gram``-gram hashes, then the min hash of every
    ``window``-position sliding window (tail windows truncate), distinct.

    The let-binding trick is the whole point: ``transform(array(<grams>),
    g -> ...)`` binds the gram-hash array to lambda variable ``g``, which
    Catalyst evaluates ONCE per row — referencing an *aliased column* inside
    a lambda instead re-inlines its construction at every slice (measured
    O(n²) md5 blowup, 28.6s vs 5.2s at sf0.1; see the historical note in
    text_fingerprint_winnow). With the binding, the whole fingerprint set is
    map-side: no gram explode, no per-doc window shuffle+sort, no distinct
    shuffle — measured 5.1s vs 7.4s for the explode+window form at sf0.1,
    and the per-doc partitioning requirement disappears entirely at scale.

    Docs shorter than ``gram`` yield an EMPTY array (callers exploding it
    therefore emit no rows — identical to the explode+window form, which
    such docs never enter)."""
    grams = (
        f"CASE WHEN length({norm}) >= {gram} THEN "
        f"transform(sequence(1, length({norm}) - {gram - 1}), "
        f"p -> substr(md5(substr({norm}, p, {gram})), 1, 8)) "
        f"ELSE cast(array() as array<string>) END"
    )
    return F.expr(
        f"transform(array({grams}), g -> CASE WHEN size(g) = 0 "
        f"THEN cast(array() as array<string>) "
        f"ELSE array_distinct(transform(sequence(1, size(g)), "
        f"i -> array_min(slice(g, i, {window})))) END)[0]"
    )


def shingles(df: DataFrame, key_col: str, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (key, sh).

    Per-row let-binding form (winnow_fp_array's trick): the token array
    binds once to lambda variable ``t``, the per-doc distinct shingle set
    is one array expression, and a single explode emits it — replacing the
    posexplode + lead()-window + global-distinct pipeline, whose per-key
    shuffle+sort and distinct shuffle this form doesn't need (measured
    2.6× at sf0.1: 1.08s → 0.41s warm). No forced repartition: shingle
    construction is cheap (concat, no hashing), downstream consumers open
    with their own keyed shuffles that AQE right-sizes, and a pinned
    repartition(parallelism) was MEASURED to lose at bench scale — it
    defeats AQE's partition coalescing for every checkpoint-reuse consumer
    (32-task scheduling overhead on kilorow stages: containment +43%).
    CPU-heavy per-char kernels (winnow_fp_array) still repartition at
    their call sites, where the hashing really is the bottleneck."""
    parts = ", ".join(f"t[i + {d}]" for d in range(n))
    return df.select(
        F.col(key_col).alias("key"),
        F.explode(
            F.expr(
                f"transform(array({_NORM_SQL.format(col=text_col)}), "
                f"t -> CASE WHEN size(t) >= {n} THEN "
                f"array_distinct(transform(sequence(0, size(t) - {n}), "
                f"i -> concat_ws(' ', {parts}))) "
                f"ELSE cast(array() as array<string>) END)[0]"
            )
        ).alias("sh"),
    )


def minhash_signatures(sh: DataFrame, n_hashes: int = 8) -> DataFrame:
    """(key, mh0..mh{n-1}): minhash signature in ONE groupBy(key) pass —
    each shingle row carries its n hash values as columns, aggregated with
    n min()s. The hash family packs four 32-bit hashes per md5 digest:
    h_i(s) = substr(md5("i//4|" + s), 1 + 8*(i%4), 8) — one digest serves
    four rows (same slicing trick as the count-min sketch), portable and
    stateless; lexicographic order on fixed-width lowercase hex equals
    numeric order. (The single-groupBy form is 2× faster than a
    (key, seed) crossJoin+regroup: the shuffle moves |shingles| rows,
    not n×.)"""
    n_digests = (n_hashes + 3) // 4
    digests = [F.md5(F.concat(F.lit(f"{d}|"), F.col("sh"))) for d in range(n_digests)]
    return (
        sh.select(
            "key",
            *[
                F.substring(digests[s // 4], 1 + 8 * (s % 4), 8).alias(f"h{s}")
                for s in range(n_hashes)
            ],
        )
        .groupBy("key")
        .agg(*[F.min(f"h{s}").alias(f"mh{s}") for s in range(n_hashes)])
    )


def lsh_band_keys(signatures: DataFrame, n_hashes: int = 8, rows_per_band: int = 2) -> DataFrame:
    """(key, band, band_key): band the wide signature — per-row projection
    over the aggregated minhash columns (no shuffle). band_key encodes the
    band's rows as md5("s:mh_s|s+1:mh_{s+1}...")."""
    n_bands = n_hashes // rows_per_band
    structs = []
    for b in range(n_bands):
        seeds = range(b * rows_per_band, (b + 1) * rows_per_band)
        pieces = []
        for i, s in enumerate(seeds):
            prefix = f"{s}:" if i == 0 else f"|{s}:"
            pieces += [F.lit(prefix), F.col(f"mh{s}")]
        structs.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat(*pieces)).alias("band_key"))
        )
    return signatures.select("key", F.explode(F.array(*structs)).alias("bk")).select(
        "key", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, n_hashes: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """Bucket-join same-(band, key) signatures: (key_a, key_b) distinct
    candidate pairs. Cost is Σ_bucket c² — the LSH trade."""
    bands = lsh_band_keys(signatures, n_hashes, rows_per_band)
    a = bands.select(F.col("key").alias("key_a"), "band", "band_key")
    b = bands.select(F.col("key").alias("key_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
    )


def connected_components(
    pairs: DataFrame, key_a: str = "key_a", key_b: str = "key_b", max_iter: int = 25
) -> DataFrame:
    """Undirected near-dup pairs → (key, component): component = min key
    reachable. This is what a corpus pipeline actually consumes — "keep doc
    X, drop {Y, Z}" needs cluster assignments, not pairs.

    Min-label propagation: each step joins labels to the (self-looped)
    edge list and takes the neighborhood min — converging in O(graph
    diameter) steps (near-dup clusters are shallow; diameter beyond ~10 is
    pathological). r11 rework (guide §2.1 — per-round fixed cost dominates
    on the shallow graphs this serves):

    * self-loop edges make one join + one groupBy a FULL propagation step
      (min over nbr ∪ {self}); the old shape needed a second left join
      back to the labels for the least()/coalesce;
    * TWO steps run per checkpointed job, halving the job / observe /
      checkpoint count (labels only ever decrease, so intermediate labels
      need no materialization);
    * convergence rides the same action via observe(SUM(comp)): labels are
      non-increasing, so the sum is strictly decreasing until the fixpoint
      and an unchanged sum IS convergence — no per-label change flags.

    Each job localCheckpoints the labels: without it the self-referential
    lineage doubles per iteration and the planner, not the data, becomes
    the bottleneck. On a real cluster prefer sparkContext.setCheckpointDir
    + checkpoint() so labels survive executor loss; for billion-edge
    graphs the alternating large-star/small-star formulation (Kiveris et
    al., "Connected Components in MapReduce") halves the rounds.
    """
    # both directions via ONE explode — a union of two selects would run
    # the (possibly expensive) pairs lineage twice
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(key_a).alias("src"), F.col(key_b).alias("dst")),
                F.struct(F.col(key_b).alias("src"), F.col(key_a).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    nodes = sym.select("src").distinct()
    edges = (
        sym.unionAll(nodes.select("src", F.col("src").alias("dst")))
        .distinct()
        # pin: every propagation step re-runs the pairs lineage without it (PERF.md "Pins")
        .localCheckpoint(eager=True)
    )
    # the self-loop rows are exactly the node set — initial labels for free
    labels = (
        edges.filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("key"), F.col("src").alias("comp"))
    )
    # The convergence observable below is SUM(comp), whose monotone-decrease
    # argument only holds for numeric keys: SUM over a non-numeric comp
    # column returns NULL every round and None == None would silently
    # declare convergence after one job (r11 ADVICE). Fail loudly instead.
    from pyspark.sql.types import NumericType

    comp_type = labels.schema["comp"].dataType
    if not isinstance(comp_type, NumericType):
        raise TypeError(
            f"connected_components: key column must be numeric for the "
            f"SUM(comp) convergence observable, got {comp_type.simpleString()}; "
            "map keys to integers (e.g. xxhash64) before clustering"
        )
    from pyspark.sql import Observation

    def prop(lbl: DataFrame) -> DataFrame:
        return (
            edges.join(lbl, F.col("src") == F.col("key"))
            .groupBy(F.col("dst").alias("key"))
            .agg(F.min("comp").alias("comp"))
        )

    prev_sum = None
    steps = 0
    converged = False
    while steps < max_iter:
        k = 2 if max_iter - steps >= 2 else 1
        stepped = labels
        for _ in range(k):
            stepped = prop(stepped)
        obs = Observation()
        # decimal(38,0) accumulator: a bigint SUM can wrap under non-ANSI
        # arithmetic at extreme scale and a NULL/wrapped sum could fake the
        # fixpoint; 38 digits hold any realistic node-count x key-range.
        # semantic pin: its eager job is the action that fills obs (PERF.md "Pins")
        labels = stepped.observe(
            obs,
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).localCheckpoint(eager=True)
        steps += k
        row = obs.get
        if row["n"] == 0 or (row["s"] is not None and row["s"] == prev_sum):
            converged = True
            break
        if row["s"] is None:
            raise RuntimeError(
                "connected_components: SUM(comp) observable returned NULL on "
                f"{row['n']} rows — either the decimal(38,0) label sum overflowed "
                "(non-ANSI mode; ANSI mode raises inside the job instead) or some "
                "labels are NULL; cannot prove convergence"
            )
        prev_sum = row["s"]
    if not converged:
        # exited via max_iter with labels possibly still moving: the result
        # may not be a fixpoint (a fixpoint oracle like a recursive CTE
        # would disagree). Warn loudly instead of silently returning
        # partial components.
        import warnings

        warnings.warn(
            f"connected_components: labels had not provably converged after "
            f"max_iter={max_iter} propagation steps — graph diameter exceeds "
            "the step budget; returned labels may be unconverged",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def hamming_pairs(signatures: DataFrame, max_distance: int = 3, n_blocks: int | None = None) -> DataFrame:
    """Pairs with popcount(xor) <= max_distance via pigeonhole prefix
    blocking: split the 64-bit signature into (max_distance+1) blocks; any
    pair within distance d agrees exactly on >= 1 block → equi-join per
    block, then exact popcount filter on candidates.
    """
    k = n_blocks or (max_distance + 1)
    width = 64 // k
    spark = signatures.sparkSession
    blocks = spark.range(k).select(F.col("id").cast("int").alias("blk"))
    keyed = signatures.crossJoin(F.broadcast(blocks)).select(
        "key",
        "simhash",
        "blk",
        F.expr(f"shiftright(simhash, blk * {width}) & {(1 << width) - 1}L").alias("blk_val"),
    )
    a = keyed.select(F.col("key").alias("key_a"), F.col("simhash").alias("sig_a"), "blk", "blk_val")
    b = keyed.select(F.col("key").alias("key_b"), F.col("simhash").alias("sig_b"), "blk", "blk_val")
    cand = (
        a.join(b, ["blk", "blk_val"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "sig_a", "sig_b")
        .distinct()
    )
    return cand.select(
        "key_a",
        "key_b",
        F.expr("bit_count(sig_a ^ sig_b)").cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= max_distance)
