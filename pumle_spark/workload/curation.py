"""Corpus-curation operators: the decisions a training-data pipeline makes
AFTER scoring/dedup — how documents are packed into training sequences, how
they are chunked for retrieval, and which near-duplicate survives.

Beyond-reference surface (SURVEY.md §2.13, LLM-pipeline family). Five ops —
the two packing disciplines deliberately bracket the design space:
``pack_greedy_token_bins`` (no-split → stateful scan → applyInPandas) vs
``pack_concat_fixed_blocks`` (split-allowed → pure prefix sum → zero
Python); ``select_top_mass_per_source`` is the budgeted quality cut that
decides WHAT enters the packer at all.

- ``pack_greedy_token_bins`` — greedy no-split bin packing of documents
  into fixed token-budget bins (the SFT/sample-packing path: each example
  stays whole, bins are training sequences). Greedy packing is a
  sequential scan — inherently order-dependent, NOT prefix-sum
  expressible — so the Spark side runs it per source group via
  ``applyInPandas`` (Arrow-batched; the ONE registered query where Python
  touches rows, suppressed with reason in tools/plan_lint.py). Scale
  story: the parallel unit is the (source) group — at 100 TB you key by
  (source, shard) and every shard packs independently; state per task is
  two integers.
- ``chunk_sliding_windows`` — overlapping token-window chunking (the
  RAG/context-window split). Pure JVM: sequence → explode → slice; no
  shuffle at all.
- ``dedup_cluster_keep_best`` — retention policy over MinHash near-dup
  clusters: keep the highest-token-count member (ties → lowest doc_id),
  account for what was dropped. Composes dedup_minhash_clusters' exact
  cluster semantics (shared CTE chain, workload/dedup.py) with an argmax
  window — the step that turns "these documents are duplicates" into
  "train on THIS one".
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pumle_spark.sources.local import local_frame
from pumle_spark.tables import table
from pumle_spark.workload import register
from pumle_spark.workload.dedup import _SQL_COMPONENT_CHAIN, _SQL_TOKENS, _tokens_col

_BIN_CAPACITY = 256  # tokens per packed bin (≈4-5 synthetic docs)
_CHUNK_W = 32  # chunk window, tokens
_CHUNK_S = 24  # chunk stride, tokens (8-token overlap)


# --------------------------------------------------------------------------
# greedy no-split packing
# --------------------------------------------------------------------------

_PACK_SCHEMA = "source string, doc_id bigint, n_tokens bigint, bin_id bigint"


def _pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
    # greedy first-fit-in-order: docs arrive sorted by doc_id; a doc that
    # doesn't fit closes the bin. Oversize docs (> capacity) get a bin of
    # their own. O(1) state — two counters — per group scan.
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    bin_ids = []
    bin_id, fill = 0, 0
    for t in pdf["n_tokens"]:
        if bin_id == 0 or fill + t > _BIN_CAPACITY:
            bin_id += 1
            fill = int(t)
        else:
            fill += int(t)
        bin_ids.append(bin_id)
    pdf["bin_id"] = pd.Series(bin_ids, dtype="int64")
    return pdf[["source", "doc_id", "n_tokens", "bin_id"]]


@register(
    "pack_greedy_token_bins",
    sql=f"""
    WITH RECURSIVE docs AS (
      SELECT source, doc_id, CAST(LEN(ws) AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM (SELECT source, doc_id, {_SQL_TOKENS} AS ws FROM documents)
    ),
    packed AS (                    -- linear recursion = the greedy scan
      SELECT source, rn, doc_id, n_tokens,
             CAST(1 AS BIGINT) AS bin_id, n_tokens AS fill
      FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN p.fill + d.n_tokens <= {_BIN_CAPACITY}
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.fill + d.n_tokens <= {_BIN_CAPACITY}
                  THEN p.fill + d.n_tokens ELSE d.n_tokens END
      FROM packed p JOIN docs d ON d.source = p.source AND d.rn = p.rn + 1
    )
    SELECT source, doc_id, n_tokens, bin_id FROM packed
    """,
    tags=("curation", "packing", "stateful"),
)
def pack_greedy_token_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy no-split packing of documents into {_BIN_CAPACITY}-token bins,
    per source, in doc_id order: (source, doc_id, n_tokens, bin_id).

    The scan state is (current bin, current fill) — order-dependent and not
    expressible as a window prefix-sum, so this is the canonical
    ``applyInPandas`` stateful-scan operator (module docstring has the
    scale contract). The DuckDB oracle runs the same scan as a linear
    recursive CTE.
    """
    docs = table(spark, sf_dir, "documents")
    sized = docs.select(
        "source", "doc_id", F.size(_tokens_col()).cast("bigint").alias("n_tokens")
    )
    return sized.groupBy("source").applyInPandas(_pack_group, _PACK_SCHEMA)


# --------------------------------------------------------------------------
# sliding-window chunking
# --------------------------------------------------------------------------


@register(
    "chunk_sliding_windows",
    sql=f"""
    WITH d AS (
      SELECT doc_id, ws, LEN(ws) AS n
      FROM (SELECT doc_id, {_SQL_TOKENS} AS ws FROM documents)
    ),
    idx AS (
      SELECT doc_id, ws, n,
             unnest(generate_series(0,
               CASE WHEN n <= {_CHUNK_W} THEN 0
                    ELSE (n - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S} END)) AS ci
      FROM d
    )
    SELECT doc_id,
           CAST(ci AS INTEGER) AS chunk_idx,
           CAST(ci * {_CHUNK_S} AS BIGINT) AS start_tok,
           CAST(LEN(list_slice(ws, ci * {_CHUNK_S} + 1, ci * {_CHUNK_S} + {_CHUNK_W})) AS BIGINT)
             AS n_chunk_tokens,
           md5(array_to_string(list_slice(ws, ci * {_CHUNK_S} + 1, ci * {_CHUNK_S} + {_CHUNK_W}), ' '))
             AS chunk_hash
    FROM idx
    """,
    tags=("curation", "chunking", "rag"),
)
def chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks per document (window {_CHUNK_W},
    stride {_CHUNK_S}): every token is covered, consecutive chunks share
    {_CHUNK_W - _CHUNK_S} tokens, the chunk content is pinned by an md5 over
    its joined tokens. Start count: 1 + ceil((n-W)/S) for n > W, else 1 —
    so the last window reaches the end without degenerate tails.

    Pure per-row expressions (sequence → explode → slice → hash): no
    shuffle, no Python; chunking 100 TB is a map-only job. The token array
    is re-derived per chunk row (~3× per doc) — measured cheaper than
    pinning exploded arrays through an exchange (see shingle_array caveat,
    operators/dedup.py).
    """
    docs = table(spark, sf_dir, "documents")
    d = docs.select("doc_id", _tokens_col().alias("ws")).withColumn("n", F.size("ws"))
    k = F.expr(
        f"CASE WHEN n <= {_CHUNK_W} THEN 0 "
        f"ELSE (n - {_CHUNK_W} + {_CHUNK_S} - 1) div {_CHUNK_S} END"
    )
    exploded = d.select(
        "doc_id", "ws", F.explode(F.sequence(F.lit(0), k.cast("int"))).alias("ci")
    )
    start = F.col("ci") * _CHUNK_S
    chunk = F.slice("ws", start + 1, F.lit(_CHUNK_W))
    return exploded.select(
        "doc_id",
        F.col("ci").cast("int").alias("chunk_idx"),
        start.cast("bigint").alias("start_tok"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


# --------------------------------------------------------------------------
# near-dup retention: keep the best cluster member
# --------------------------------------------------------------------------


@register(
    "dedup_cluster_keep_best",
    sql=f"""
    WITH RECURSIVE {_SQL_COMPONENT_CHAIN},
    tok AS (
      SELECT doc_id, CAST(LEN({_SQL_TOKENS}) AS BIGINT) AS n_tokens FROM documents
    ),
    ranked AS (
      SELECT c.cluster_id, c.doc_id, t.n_tokens,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY t.n_tokens DESC, c.doc_id) AS rk
      FROM comp c JOIN tok t USING (doc_id)
    )
    SELECT cluster_id,
           MAX(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MAX(CASE WHEN rk = 1 THEN n_tokens END) AS kept_tokens,
           CAST(SUM(n_tokens) - MAX(CASE WHEN rk = 1 THEN n_tokens END) AS BIGINT)
             AS dropped_tokens
    FROM ranked GROUP BY cluster_id
    """,
    tags=("curation", "dedup", "retention"),
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention decision per MinHash near-dup cluster: keep the member
    with the most tokens (ties → lowest doc_id); report cluster size and
    the token mass dropped. One row per cluster.

    Reuses dedup_minhash_clusters' exact cluster assignment (shared oracle
    CTE chain) + a per-cluster argmax window — clusters are small by
    construction (LSH candidates verified at Jaccard ≥ threshold), so the
    window partition is bounded; the heavy lifting happened in the
    bucketed cluster build.
    """
    from pumle_spark.workload.dedup import dedup_minhash_clusters

    clusters = dedup_minhash_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.size(_tokens_col()).cast("bigint").alias("n_tokens"))
    )
    j = clusters.join(toks, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_tokens").desc(), F.col("doc_id"))
    ranked = j.withColumn("rk", F.row_number().over(w))
    kept_tok = F.max(F.when(F.col("rk") == 1, F.col("n_tokens"))).alias("kept_tokens")
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("kept_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
        kept_tok,
        (F.sum("n_tokens") - F.max(F.when(F.col("rk") == 1, F.col("n_tokens"))))
        .cast("bigint")
        .alias("dropped_tokens"),
    )


# --------------------------------------------------------------------------
# concat-and-cut block packing (the split-allowed pretraining path)
# --------------------------------------------------------------------------


@register(
    "pack_concat_fixed_blocks",
    sql=f"""
    WITH docs AS (
      SELECT source, doc_id, CAST(LEN(ws) AS BIGINT) AS n_tokens
      FROM (SELECT source, doc_id, {_SQL_TOKENS} AS ws FROM documents)
    ),
    cum AS (
      SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM docs
    )
    SELECT source, doc_id, n_tokens,
           -- CASTs matter: the window SUM() above is HUGEINT in DuckDB, and
           -- un-cast arithmetic stays HUGEINT, which the driver's pandas
           -- fetch path renders as float (hash mismatch vs Spark's bigint).
           CAST((cum_tokens - n_tokens) // {_BIN_CAPACITY} AS BIGINT) AS first_block,
           -- GREATEST guards the zero-token-leading-doc boundary where
           -- cum_tokens = 0: DuckDB // floors (-1 // cap = -1) while Spark
           -- div truncates toward zero (0).
           CAST(GREATEST(cum_tokens - 1, 0) // {_BIN_CAPACITY} AS BIGINT) AS last_block,
           CAST((cum_tokens - n_tokens) % {_BIN_CAPACITY} AS BIGINT) AS offset_in_block
    FROM cum
    """,
    tags=("curation", "packing", "pretraining"),
)
def pack_concat_fixed_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut packing — the OTHER packing discipline: per source,
    the token streams of all documents (doc_id order) are concatenated and
    cut into exact {_BIN_CAPACITY}-token blocks; documents may straddle a
    cut. Emits each document's block span (first_block, last_block) and
    its start offset inside the first block — the index a pretraining
    loader needs to reassemble attention-mask boundaries.

    Contrast with pack_greedy_token_bins (no-split, order-dependent scan →
    applyInPandas): allowing splits makes placement a PURE PREFIX SUM —
    block ids are integer arithmetic over a per-source window cumsum, so
    this path needs no Python, no sequential state, and one shuffle on
    source. Blocks are exactly full by construction (zero padding waste vs
    the greedy path's per-bin slack)."""
    docs = table(spark, sf_dir, "documents")
    sized = docs.select(
        "source", "doc_id", F.size(_tokens_col()).cast("bigint").alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return cum.select(
        "source",
        "doc_id",
        "n_tokens",
        F.expr(f"(cum_tokens - n_tokens) div {_BIN_CAPACITY}")
        .cast("bigint")
        .alias("first_block"),
        F.expr(f"greatest(cum_tokens - 1, 0L) div {_BIN_CAPACITY}")
        .cast("bigint")
        .alias("last_block"),
        ((F.col("cum_tokens") - F.col("n_tokens")) % _BIN_CAPACITY)
        .cast("bigint")
        .alias("offset_in_block"),
    )


# --------------------------------------------------------------------------
# best-fit-decreasing packing (Ding et al. 2024: fewer truncations)
# --------------------------------------------------------------------------


def _bfd_bins(sizes: list[int]) -> list[int]:
    # best-fit placement core shared by the document packer (_bfd_group)
    # and the conversation packer (_conv_pack_group): each item goes to the
    # FULLEST bin it still fits (ties -> lowest bin id), else opens a new
    # bin. The linear scan over open bins keeps the convention pinned
    # (first maximal fill wins); a production packer swaps in a sorted
    # multiset for O(n log n) with the identical placement rule.
    fills: list[int] = []
    bin_ids: list[int] = []
    for t in sizes:
        best = -1
        best_fill = -1
        for i, f in enumerate(fills):
            if f + t <= _BIN_CAPACITY and f > best_fill:
                best, best_fill = i, f
        if best < 0:
            fills.append(t)
            bin_ids.append(len(fills))
        else:
            fills[best] += t
            bin_ids.append(best + 1)
    return bin_ids


def _bfd_group(pdf: pd.DataFrame) -> pd.DataFrame:
    # best-fit-decreasing: docs sorted by (n_tokens DESC, doc_id), then the
    # shared best-fit placement scan.
    pdf = pdf.sort_values(
        ["n_tokens", "doc_id"], ascending=[False, True]
    ).reset_index(drop=True)
    pdf["bin_id"] = pd.Series(
        _bfd_bins([int(t) for t in pdf["n_tokens"]]), dtype="int64"
    )
    return pdf[["source", "doc_id", "n_tokens", "bin_id"]]


_SQL_BFD = f"""
    bfd_docs AS (
      SELECT source, doc_id, CAST(LEN(ws) AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY LEN(ws) DESC, doc_id) AS rn
      FROM (SELECT source, doc_id, {_SQL_TOKENS} AS ws FROM documents)
    ),
    bfd AS (                      -- linear recursion = the BFD scan
      SELECT source, rn, doc_id, n_tokens,
             CAST(1 AS BIGINT) AS bin_id, [n_tokens] AS fills
      FROM bfd_docs WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN b.best IS NULL THEN CAST(len(p.fills) + 1 AS BIGINT)
                  ELSE CAST(list_position(p.fills, b.best) AS BIGINT) END,
             CASE WHEN b.best IS NULL THEN list_append(p.fills, d.n_tokens)
                  ELSE list_concat(list_concat(
                         p.fills[1:list_position(p.fills, b.best) - 1],
                         [b.best + d.n_tokens]),
                         p.fills[list_position(p.fills, b.best) + 1:len(p.fills)])
             END
      FROM bfd p
      JOIN bfd_docs d ON d.source = p.source AND d.rn = p.rn + 1,
      LATERAL (SELECT list_max(list_filter(p.fills,
                 f -> f + d.n_tokens <= {_BIN_CAPACITY})) AS best) b
    )"""


@register(
    "pack_bfd_token_bins",
    sql=f"""
    WITH RECURSIVE {_SQL_BFD}
    SELECT source, doc_id, n_tokens, bin_id FROM bfd
    """,
    tags=("curation", "packing", "stateful"),
)
def pack_bfd_token_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing packing of documents into {_BIN_CAPACITY}-token
    bins per source — the PRODUCTION sequence packer (Ding et al. 2024,
    arXiv:2404.10830 "Fewer Truncations Improve Language Modeling", the
    algorithm behind LLM pretraining's no-truncation packing): sort docs
    by token count descending, place each into the fullest open bin with
    room (ties → lowest bin id), else open a new bin. BFD is within
    11/9·OPT+1 of optimal bin count, vs first-fit-in-order's 1.7·OPT —
    `curation_pack_efficiency` measures the realized gap against
    `pack_greedy_token_bins` on this corpus.

    Like the greedy packer, the scan state (every open bin's fill) is
    order-dependent and not a window prefix-sum, so this is the
    ``applyInPandas`` stateful-scan operator class: one shuffle on source,
    per-group python scan, deterministic because the sort key
    (n_tokens DESC, doc_id) and the tie rule are total. The DuckDB oracle
    runs the identical scan as a linear recursive CTE carrying the open
    bins' fills as a LIST (first-occurrence list_position IS the
    lowest-bin-id tie rule). Oversize docs (> capacity) open a bin of
    their own, exactly as the greedy path does."""
    docs = table(spark, sf_dir, "documents")
    sized = docs.select(
        "source", "doc_id", F.size(_tokens_col()).cast("bigint").alias("n_tokens")
    )
    return sized.groupBy("source").applyInPandas(_bfd_group, _PACK_SCHEMA)


# --------------------------------------------------------------------------
# conversation-aware packing: multi-turn examples are packed atomically
# --------------------------------------------------------------------------

_CONV_TURNS = 4  # fixture stand-in: doc_id div 4 groups turns into a dialogue

_CONV_SCHEMA = (
    "source string, conv_id bigint, n_turns bigint, conv_tokens bigint, "
    "bin_id bigint"
)


def _conv_pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
    # BFD over whole conversations: sort by (conv_tokens DESC, conv_id),
    # then the shared best-fit placement scan — a conversation is one
    # atomic item, never split across bins.
    pdf = pdf.sort_values(
        ["conv_tokens", "conv_id"], ascending=[False, True]
    ).reset_index(drop=True)
    pdf["bin_id"] = pd.Series(
        _bfd_bins([int(t) for t in pdf["conv_tokens"]]), dtype="int64"
    )
    return pdf[["source", "conv_id", "n_turns", "conv_tokens", "bin_id"]]


@register(
    "pack_conversation_bins",
    sql=f"""
    WITH RECURSIVE cdocs AS (
      SELECT source, doc_id // {_CONV_TURNS} AS conv_id,
             CAST(COUNT(*) AS BIGINT) AS n_turns,
             CAST(SUM(LEN(ws)) AS BIGINT) AS conv_tokens
      FROM (SELECT source, doc_id, {_SQL_TOKENS} AS ws FROM documents)
      GROUP BY source, doc_id // {_CONV_TURNS}
    ),
    cord AS (
      SELECT source, conv_id, n_turns, conv_tokens,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY conv_tokens DESC, conv_id) AS rn
      FROM cdocs
    ),
    cpack AS (                    -- linear recursion = the BFD scan
      SELECT source, rn, conv_id, n_turns, conv_tokens,
             CAST(1 AS BIGINT) AS bin_id, [conv_tokens] AS fills
      FROM cord WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn, d.conv_id, d.n_turns, d.conv_tokens,
             CASE WHEN b.best IS NULL THEN CAST(len(p.fills) + 1 AS BIGINT)
                  ELSE CAST(list_position(p.fills, b.best) AS BIGINT) END,
             CASE WHEN b.best IS NULL THEN list_append(p.fills, d.conv_tokens)
                  ELSE list_concat(list_concat(
                         p.fills[1:list_position(p.fills, b.best) - 1],
                         [b.best + d.conv_tokens]),
                         p.fills[list_position(p.fills, b.best) + 1:len(p.fills)])
             END
      FROM cpack p
      JOIN cord d ON d.source = p.source AND d.rn = p.rn + 1,
      LATERAL (SELECT list_max(list_filter(p.fills,
                 f -> f + d.conv_tokens <= {_BIN_CAPACITY})) AS best) b
    )
    SELECT source, conv_id, n_turns, conv_tokens, bin_id FROM cpack
    """,
    tags=("curation", "packing", "stateful", "conversation"),
)
def pack_conversation_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-aware best-fit-decreasing packing: multi-turn examples
    are packed ATOMICALLY — every turn of a dialogue lands in the same
    {_BIN_CAPACITY}-token bin, never split across training sequences (the
    fine-tuning analogue of Ding et al. 2024's no-truncation rule: a
    truncated conversation trains on orphaned answers, so SFT packers pack
    at the conversation boundary). Turns roll up to their conversation
    first (the fixture's stand-in key is doc_id div {_CONV_TURNS};
    production swaps in the real conversation/session id), then the SAME
    best-fit placement core as `pack_bfd_token_bins` (`_bfd_bins` — one
    definition, never a re-statement) packs whole conversations per
    source: (conv_tokens DESC, conv_id) order, fullest-fitting bin wins,
    ties to the lowest bin id, oversize conversations open their own bin
    (truncation candidates the packer refuses to split).

    Scale shape: one keyed rollup (map-side-combinable sum to the
    conversation grain — at 100 TB this is the only corpus-sized stage)
    then the adjudicated applyInPandas stateful-scan class over
    |conversations|-per-source items, same as the two document packers.
    The DuckDB oracle runs the identical scan as a linear recursive CTE
    carrying the open bins' fills as a LIST (first-occurrence
    list_position IS the lowest-bin-id tie rule)."""
    docs = table(spark, sf_dir, "documents")
    convs = (
        docs.select(
            "source",
            F.expr(f"doc_id div {_CONV_TURNS}").cast("bigint").alias("conv_id"),
            F.size(_tokens_col()).cast("bigint").alias("n_tokens"),
        )
        .groupBy("source", "conv_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_turns"),
            F.sum("n_tokens").cast("bigint").alias("conv_tokens"),
        )
    )
    return convs.groupBy("source").applyInPandas(_conv_pack_group, _CONV_SCHEMA)


@register(
    "curation_pack_efficiency",
    sql=f"""
    WITH RECURSIVE gdocs AS (
      SELECT source, doc_id, CAST(LEN(ws) AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM (SELECT source, doc_id, {_SQL_TOKENS} AS ws FROM documents)
    ),
    greedy AS (
      SELECT source, rn, doc_id, n_tokens,
             CAST(1 AS BIGINT) AS bin_id, n_tokens AS fill
      FROM gdocs WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN p.fill + d.n_tokens <= {_BIN_CAPACITY}
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.fill + d.n_tokens <= {_BIN_CAPACITY}
                  THEN p.fill + d.n_tokens ELSE d.n_tokens END
      FROM greedy p JOIN gdocs d ON d.source = p.source AND d.rn = p.rn + 1
    ),
    {_SQL_BFD},
    gbins AS (
      SELECT source, bin_id, SUM(n_tokens) AS fill
      FROM greedy GROUP BY source, bin_id
    ),
    bbins AS (
      SELECT source, bin_id, SUM(n_tokens) AS fill
      FROM bfd GROUP BY source, bin_id
    ),
    gstat AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS bins_greedy,
             CAST(SUM(CASE WHEN fill <= {_BIN_CAPACITY}
                           THEN {_BIN_CAPACITY} - fill ELSE 0 END) AS BIGINT)
               AS slack_greedy
      FROM gbins GROUP BY source
    ),
    bstat AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS bins_bfd,
             CAST(SUM(CASE WHEN fill <= {_BIN_CAPACITY}
                           THEN {_BIN_CAPACITY} - fill ELSE 0 END) AS BIGINT)
               AS slack_bfd
      FROM bbins GROUP BY source
    ),
    tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM gdocs GROUP BY source
    )
    SELECT t.source, t.n_docs, t.total_tokens,
           g.bins_greedy, b.bins_bfd, g.slack_greedy, b.slack_bfd,
           CAST(g.slack_greedy * 1000000
                // (g.bins_greedy * {_BIN_CAPACITY}) AS BIGINT)
             AS waste_greedy_ppm,
           CAST(b.slack_bfd * 1000000
                // (b.bins_bfd * {_BIN_CAPACITY}) AS BIGINT) AS waste_bfd_ppm
    FROM tot t JOIN gstat g ON g.source = t.source
               JOIN bstat b ON b.source = t.source
    ORDER BY t.source
    """,
    tags=("curation", "packing", "report"),
)
def curation_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-to-head packing audit: run BOTH no-split packers
    (first-fit-in-order `pack_greedy_token_bins` vs best-fit-decreasing
    `pack_bfd_token_bins` — same register functions, never a re-statement)
    and report per source the bin counts, absolute padding slack, and
    exact-ppm waste of each — the number that decides whether re-sorting
    the corpus for BFD is worth the extra shuffle at pretraining scale.
    Bins left over capacity by an oversize doc contribute zero slack (they
    are not padded; they are truncation candidates both packers refuse to
    split).

    Scale shape: two applyInPandas group scans (one shuffle on source
    each) + two bin rollups; everything downstream is source-sized."""
    docs = table(spark, sf_dir, "documents")
    sized = docs.select(
        "source", "doc_id", F.size(_tokens_col()).cast("bigint").alias("n_tokens")
    )
    cap = F.lit(_BIN_CAPACITY).cast("bigint")

    def _binstat(assign: DataFrame, label: str) -> DataFrame:
        bins = assign.groupBy("source", "bin_id").agg(
            F.sum("n_tokens").alias("fill")
        )
        return bins.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias(f"bins_{label}"),
            F.sum(
                F.when(F.col("fill") <= cap, cap - F.col("fill")).otherwise(0)
            )
            .cast("bigint")
            .alias(f"slack_{label}"),
        )
    g = _binstat(sized.groupBy("source").applyInPandas(_pack_group, _PACK_SCHEMA), "greedy")
    b = _binstat(sized.groupBy("source").applyInPandas(_bfd_group, _PACK_SCHEMA), "bfd")
    tot = sized.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
    return (
        tot.join(g, "source")
        .join(b, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "bins_greedy",
            "bins_bfd",
            "slack_greedy",
            "slack_bfd",
            F.expr(f"(slack_greedy * 1000000) div (bins_greedy * {_BIN_CAPACITY})")
            .cast("bigint")
            .alias("waste_greedy_ppm"),
            F.expr(f"(slack_bfd * 1000000) div (bins_bfd * {_BIN_CAPACITY})")
            .cast("bigint")
            .alias("waste_bfd_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# fill-in-the-middle transform accounting (Bavarian et al. 2022)
# --------------------------------------------------------------------------

_FIM_SENTINELS = 3  # <PRE>/<MID>/<SUF> markers added per transformed doc


@register(
    "text_fim_transform_audit",
    sql=f"""
    WITH d AS (
      SELECT source, CAST(LEN(ws) AS BIGINT) AS n,
             CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS h1,
             CAST(('0x' || substr(md5(text), 9, 8))::UBIGINT AS BIGINT) AS h2,
             CAST(('0x' || substr(md5(text), 17, 8))::UBIGINT AS BIGINT) AS h3
      FROM (SELECT source, text, {_SQL_TOKENS} AS ws FROM documents)
    ),
    split AS (
      SELECT source, n, h3,
             CASE WHEN n >= 3 THEN 1 ELSE 0 END AS eligible,
             CASE WHEN n >= 3 AND h1 % 2 = 0 THEN 1 ELSE 0 END AS fim,
             CASE WHEN n >= 3 AND h1 % 2 = 0
                  THEN 1 + (h2 % (n - 2)) ELSE NULL END AS a
      FROM d
    ),
    spans AS (
      SELECT source, n, eligible, fim, a,
             CASE WHEN fim = 1 THEN a + 1 + (h3 % (n - 1 - a)) ELSE NULL END AS b
      FROM split
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(eligible) AS BIGINT) AS n_eligible,
           CAST(SUM(fim) AS BIGINT) AS n_fim,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN fim = 1 THEN a ELSE 0 END) AS BIGINT)
             AS prefix_tokens,
           CAST(SUM(CASE WHEN fim = 1 THEN b - a ELSE 0 END) AS BIGINT)
             AS middle_tokens,
           CAST(SUM(CASE WHEN fim = 1 THEN n - b ELSE 0 END) AS BIGINT)
             AS suffix_tokens,
           CAST(SUM(fim) * {_FIM_SENTINELS} * 1000000 // SUM(n) AS BIGINT)
             AS sentinel_overhead_ppm,
           CAST(SUM(CASE WHEN fim = 1 THEN b - a ELSE 0 END) * 1000000
                // NULLIF(SUM(CASE WHEN fim = 1 THEN n ELSE 0 END), 0) AS BIGINT)
             AS middle_share_ppm
    FROM spans
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "fim", "pretraining"),
)
def text_fim_transform_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform accounting (Bavarian et al. 2022,
    arXiv:2207.14255 — the FIM pretraining objective): deterministically
    select ~half the eligible documents (md5 gate — the transform rate a
    real pipeline sets as its FIM rate) and split each into
    prefix|middle|suffix at hash-derived cut points (every segment >= 1
    token), as a PSM reassembly would. Per source: docs, eligible docs
    (>= 3 tokens), transformed docs, segment token masses, the
    {_FIM_SENTINELS}-sentinel-per-doc token overhead in exact ppm, and
    the middle-segment share of transformed-doc tokens — the numbers that
    size a FIM data budget before a single sequence is materialized.

    Determinism: cut points are pure md5 arithmetic over the document text
    (the fake-codec / ann_lsh_codes trick), so both engines derive the
    same (a, b) for every doc: a ∈ [1, n-2] from hex 9-16, b ∈ [a+1, n-1]
    from hex 17-24, gate from hex 1-8 parity. The corpus is pure ASCII,
    so DuckDB's VARCHAR md5 hashes the same bytes Spark's does.

    Scale shape: one narrow projection (hashing + span arithmetic, all
    engine-side) and one keyed rollup on source — linear, no joins, the
    shape a 100 TB FIM budget audit must have."""
    docs = table(spark, sf_dir, "documents")
    h = F.md5("text")
    d = docs.select(
        "source",
        F.size(_tokens_col()).cast("bigint").alias("n"),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("h2"),
        F.conv(F.substring(h, 17, 8), 16, 10).cast("bigint").alias("h3"),
    )
    split = d.select(
        "source",
        "n",
        "h3",
        F.when(F.col("n") >= 3, 1).otherwise(0).alias("eligible"),
        F.when((F.col("n") >= 3) & (F.col("h1") % 2 == 0), 1)
        .otherwise(0)
        .alias("fim"),
        F.when(
            (F.col("n") >= 3) & (F.col("h1") % 2 == 0),
            1 + (F.col("h2") % (F.col("n") - 2)),
        ).alias("a"),
    )
    spans = split.select(
        "source",
        "n",
        "eligible",
        "fim",
        "a",
        F.when(
            F.col("fim") == 1,
            F.col("a") + 1 + (F.col("h3") % (F.col("n") - 1 - F.col("a"))),
        ).alias("b"),
    )
    fim1 = F.col("fim") == 1
    return (
        spans.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("eligible").cast("bigint").alias("n_eligible"),
            F.sum("fim").cast("bigint").alias("n_fim"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.sum(F.when(fim1, F.col("a")).otherwise(0))
            .cast("bigint")
            .alias("prefix_tokens"),
            F.sum(F.when(fim1, F.col("b") - F.col("a")).otherwise(0))
            .cast("bigint")
            .alias("middle_tokens"),
            F.sum(F.when(fim1, F.col("n") - F.col("b")).otherwise(0))
            .cast("bigint")
            .alias("suffix_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_eligible",
            "n_fim",
            "total_tokens",
            "prefix_tokens",
            "middle_tokens",
            "suffix_tokens",
            F.expr(f"(n_fim * {_FIM_SENTINELS} * 1000000) div total_tokens")
            .cast("bigint")
            .alias("sentinel_overhead_ppm"),
            F.expr(
                "(middle_tokens * 1000000) div "
                "nullif(prefix_tokens + middle_tokens + suffix_tokens, 0)"
            )
            .cast("bigint")
            .alias("middle_share_ppm"),
        )
        .orderBy("source")
    )
# --------------------------------------------------------------------------
# within-source token-budget selection (top-mass / nucleus pruning)
# --------------------------------------------------------------------------

_MASS_PCT = 70  # keep the best docs until 70% of each source's token mass


@register(
    "select_top_mass_per_source",
    sql=f"""
    WITH d AS (
      SELECT source, doc_id, ws, CAST(LEN(ws) AS BIGINT) AS n_tokens,
             CAST(LENGTH(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT)
               AS n_alnum,
             CAST(LENGTH(text) AS BIGINT) AS n_chars
      FROM (SELECT source, doc_id, text, {_SQL_TOKENS} AS ws FROM documents)
    ),
    scored AS (
      -- quality = alnum chars per 1000 text chars, in exact integer milli-units
      SELECT source, doc_id, n_tokens,
             (n_alnum * 1000) // NULLIF(n_chars, 0) AS quality_milli
      FROM d
    ),
    ranked AS (
      SELECT source, doc_id, n_tokens, quality_milli,
             SUM(n_tokens) OVER (PARTITION BY source
                                 ORDER BY quality_milli DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens,
             SUM(n_tokens) OVER (PARTITION BY source) AS tot_tokens
      FROM scored
    )
    SELECT source, doc_id, n_tokens, quality_milli,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked
    WHERE cum_tokens * 100 <= tot_tokens * {_MASS_PCT}
    """,
    tags=("curation", "selection", "quality"),
)
def select_top_mass_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-mass (nucleus) corpus pruning: per source, keep the
    highest-quality documents until {_MASS_PCT}% of that source's token
    mass is covered — the budgeted quality cut that trims each domain's
    tail without fixed per-domain doc counts.

    Determinism: quality is alnum-chars-per-1000 in exact integer
    milli-units (no float ratio), the keep rule is BIGINT cross-multiply
    (cum·100 ≤ tot·{_MASS_PCT}), and the order (quality DESC, doc_id) is
    total. One shuffle on source; both window sums share it."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "doc_id",
        F.size(_tokens_col()).cast("bigint").alias("n_tokens"),
        F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""))
        .cast("bigint")
        .alias("n_alnum"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    scored = d.select(
        "source",
        "doc_id",
        "n_tokens",
        F.expr("(n_alnum * 1000) div nullif(n_chars, 0)").alias("quality_milli"),
    )
    wq = Window.partitionBy("source").orderBy(
        F.col("quality_milli").desc(), "doc_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ws = Window.partitionBy("source")
    ranked = scored.select(
        "source",
        "doc_id",
        "n_tokens",
        "quality_milli",
        F.sum("n_tokens").over(wq).alias("cum_tokens"),
        F.sum("n_tokens").over(ws).alias("tot_tokens"),
    )
    return ranked.filter(
        F.col("cum_tokens") * 100 <= F.col("tot_tokens") * _MASS_PCT
    ).select("source", "doc_id", "n_tokens", "quality_milli", "cum_tokens")


# --------------------------------------------------------------------------
# cluster-aware train/val/test split (decontamination-safe assignment)
# --------------------------------------------------------------------------


def _split_bucket(col: F.Column) -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split|"), col.cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )


def _split_label(bucket: F.Column) -> F.Column:
    return (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )


@register(
    "split_cluster_aware",
    sql=f"""
    WITH RECURSIVE {_SQL_COMPONENT_CHAIN},
    reps AS (
      SELECT d.doc_id,
             COALESCE(c.cluster_id, d.doc_id) AS rep,
             c.doc_id IS NOT NULL AS clustered
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    lab AS (
      SELECT doc_id, rep, clustered,
             CASE WHEN rb < 80 THEN 'train' WHEN rb < 90 THEN 'val'
                  ELSE 'test' END AS split,
             CASE WHEN nb < 80 THEN 'train' WHEN nb < 90 THEN 'val'
                  ELSE 'test' END AS naive_split
      FROM (SELECT doc_id, rep, clustered,
                   ('0x' || substr(md5('split|' || CAST(rep AS VARCHAR)), 1, 4))::UBIGINT % 100 AS rb,
                   ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT % 100 AS nb
            FROM reps)
    ),
    leaks AS (
      SELECT COALESCE(CAST(SUM(CASE WHEN la.split <> lb.split
                                    THEN 1 ELSE 0 END) AS BIGINT), 0) AS leak_pairs_cluster,
             COALESCE(CAST(SUM(CASE WHEN la.naive_split <> lb.naive_split
                                    THEN 1 ELSE 0 END) AS BIGINT), 0) AS leak_pairs_naive
      FROM vpairs v
      JOIN lab la ON la.doc_id = v.doc_a
      JOIN lab lb ON lb.doc_id = v.doc_b
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clustered_docs,
           leak_pairs_cluster, leak_pairs_naive
    FROM lab CROSS JOIN leaks
    GROUP BY split, leak_pairs_cluster, leak_pairs_naive
    ORDER BY split
    """,
    tags=("curation", "split", "dedup", "decontamination"),
)
def split_cluster_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-aware train/val/test split: every document is
    keyed by its MinHash-cluster REPRESENTATIVE (singletons by their own
    id) before the deterministic_split hash rule, so an entire near-dup
    cluster lands in one split — the decontamination guarantee a naive
    per-doc split cannot give. The report quantifies exactly that: the
    verified near-dup pairs a doc_id-keyed split would scatter across
    split boundaries (leak_pairs_naive) versus this assignment's
    leak_pairs_cluster, which is 0 BY CONSTRUCTION (both members share
    the rep, hence the bucket).

    Reuses dedup_minhash_clusters' exact cluster assignment and
    dedup_minhash_lsh's verified pairs (shared oracle CTE chain) — the
    split must agree with the dedup family on what a cluster IS.

    Scale: cluster assignment is the LSH band-join path (never
    all-pairs); the rep mapping is one left join; the split hash is a
    per-row map; leakage is an aggregate over the verified-pair set."""
    from pumle_spark.operators.dedup import connected_components
    from pumle_spark.workload.dedup import dedup_minhash_lsh

    docs = table(spark, sf_dir, "documents").select("doc_id")
    # pin: the components and the leak count both read the LSH pairs (PERF.md "Pins")
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    comp = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("key").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    reps = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("rep"),
        F.col("cluster_id").isNotNull().alias("clustered"),
    )
    lab = reps.select(
        "doc_id",
        "rep",
        "clustered",
        _split_label(_split_bucket(F.col("rep"))).alias("split"),
        _split_label(_split_bucket(F.col("doc_id"))).alias("naive_split"),
    )
    la = lab.select(
        F.col("doc_id").alias("doc_a"),
        F.col("split").alias("sa"),
        F.col("naive_split").alias("nsa"),
    )
    lb = lab.select(
        F.col("doc_id").alias("doc_b"),
        F.col("split").alias("sb"),
        F.col("naive_split").alias("nsb"),
    )
    leaks = (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("sa") != F.col("sb"), 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("leak_pairs_cluster"),
            F.coalesce(
                F.sum(F.when(F.col("nsa") != F.col("nsb"), 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("leak_pairs_naive"),
        )
    )
    return (
        lab.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("rep").cast("bigint").alias("n_groups"),
            F.sum(F.col("clustered").cast("int")).cast("bigint").alias("n_clustered_docs"),
        )
        .crossJoin(F.broadcast(leaks))
        .select(
            "split",
            "n_docs",
            "n_groups",
            "n_clustered_docs",
            "leak_pairs_cluster",
            "leak_pairs_naive",
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# train/eval near-dup leakage audit (winnow fingerprints across the split)
# --------------------------------------------------------------------------

_LEAK_GRAM = 8  # char n-gram size (mirrors text_fingerprint_winnow)
_LEAK_WINNOW = 4  # winnowing window (rows)
_LEAK_MAXDF = 16  # stop-fingerprint cap: drop fps present in more docs
_LEAK_MIN = 3  # shared distinct fps for a pair to count as leakage


@register(
    "split_leakage_neardup",
    sql=f"""
    WITH sp AS (
      SELECT doc_id,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT
                     % 100 AS b
            FROM documents)
    ),
    d AS (
      SELECT doc_id,
             array_to_string(string_split_regex(trim(regexp_replace(lower(text),
                             '[^a-z0-9]+', ' ', 'g')), ' '), ' ') AS norm
      FROM documents
    ),
    grams AS (
      SELECT doc_id, pos, substr(md5(substr(norm, pos, {_LEAK_GRAM})), 1, 8) AS h
      FROM (SELECT doc_id, norm,
                   unnest(generate_series(1, LENGTH(norm) - {_LEAK_GRAM - 1})) AS pos
            FROM d)
    ),
    winnowed AS (
      SELECT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_LEAK_WINNOW - 1} FOLLOWING) AS fp
      FROM grams
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM winnowed),
    keepfp AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {_LEAK_MAXDF}),
    fpo AS (SELECT f.doc_id, f.fp FROM fps f JOIN keepfp k ON k.fp = f.fp),
    tr AS (SELECT f.fp, f.doc_id FROM fpo f JOIN sp ON sp.doc_id = f.doc_id
           WHERE sp.split = 'train'),
    ev AS (SELECT sp.split, f.fp, f.doc_id FROM fpo f JOIN sp ON sp.doc_id = f.doc_id
           WHERE sp.split IN ('val', 'test')),
    pairs AS (
      SELECT ev.split, ev.doc_id AS e_doc, tr.doc_id AS t_doc,
             CAST(COUNT(*) AS BIGINT) AS shared_fps
      FROM ev JOIN tr ON tr.fp = ev.fp
      GROUP BY 1, 2, 3 HAVING COUNT(*) >= {_LEAK_MIN}
    ),
    leaked AS (
      SELECT split, e_doc, CAST(COUNT(*) AS BIGINT) AS n_partners
      FROM pairs GROUP BY 1, 2
    ),
    base AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs FROM sp
      WHERE split IN ('val', 'test') GROUP BY split
    )
    SELECT b.split, b.n_docs,
           CAST(COUNT(l.e_doc) AS BIGINT) AS n_leaked,
           CAST(COUNT(l.e_doc) * 1000000 // b.n_docs AS BIGINT) AS leak_ppm,
           CAST(COALESCE(SUM(l.n_partners), 0) AS BIGINT) AS n_pairs
    FROM base b LEFT JOIN leaked l ON l.split = b.split
    GROUP BY b.split, b.n_docs ORDER BY b.split
    """,
    tags=("curation", "split", "leakage", "dedup"),
)
def split_leakage_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage audit: how many val/test documents have a
    near-duplicate in the train split — the contamination check that
    makes held-out metrics trustworthy (a random doc-level split of a
    corpus WITH near-dups leaks by construction; this measures exactly
    how much). Near-dup evidence is ≥{_LEAK_MIN} shared winnowing
    fingerprints (the `text_fingerprint_winnow` char-{_LEAK_GRAM}-gram /
    window-{_LEAK_WINNOW} scheme); split assignment is the engine's own
    `deterministic_split` md5 bucketing, so the audit measures the real
    shipping split.

    Exactness: fingerprints and split buckets are md5-derived integers;
    every count is exact; leak_ppm is one integer floor division.

    Scale shape: fingerprinting is per-document (explode bounded by doc
    length, one doc-keyed distinct); the candidate join keys on the
    fingerprint value with a stop-fingerprint cap (document-frequency
    > {_LEAK_MAXDF} dropped — the standard LSH hot-bucket guard, which
    bounds per-key join fan-out to {_LEAK_MAXDF}²); pair scoring groups
    on (eval_doc, train_doc). No all-pairs stage anywhere."""
    from pumle_spark.operators.dedup import normalize_text

    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    sp = docs.select(
        "doc_id",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )
    # repartition before the hash-heavy winnow map (CPU-bound per char;
    # see text_fingerprint_winnow's note on byte-sized splits)
    d = docs.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id", F.array_join(normalize_text("text"), " ").alias("norm")
    )
    # map-side winnowing (let-binding array form): no gram explode, no
    # per-doc window shuffle, no distinct shuffle — see winnow_fp_array
    from pumle_spark.operators.dedup import winnow_fp_array

    fps = d.select(
        "doc_id",
        F.explode(winnow_fp_array(_LEAK_GRAM, _LEAK_WINNOW)).alias("fp"),
    )
    keepfp = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _LEAK_MAXDF
    ).select("fp")
    fpo = fps.join(keepfp, "fp")
    tagged = fpo.join(sp, "doc_id")
    tr = tagged.filter(F.col("split") == "train").select("fp", F.col("doc_id").alias("t_doc"))
    ev = tagged.filter(F.col("split").isin("val", "test")).select(
        "split", "fp", F.col("doc_id").alias("e_doc")
    )
    pairs = (
        ev.join(tr, "fp")
        .groupBy("split", "e_doc", "t_doc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= _LEAK_MIN)
    )
    leaked = pairs.groupBy("split", "e_doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_partners")
    )
    base = (
        sp.filter(F.col("split").isin("val", "test"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return (
        base.join(leaked, "split", "left")
        .groupBy("split", "n_docs")
        .agg(
            F.count("e_doc").cast("bigint").alias("n_leaked"),
            F.expr("count(e_doc) * 1000000 div n_docs").cast("bigint").alias("leak_ppm"),
            F.coalesce(F.sum("n_partners"), F.lit(0)).cast("bigint").alias("n_pairs"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# contrastive in-batch assignment + false-negative collision audit
# --------------------------------------------------------------------------

_CB_BATCH = 32  # in-batch negative pool size


@register(
    "curation_contrastive_batches",
    sql=f"""
    WITH v AS (
      SELECT vec_id, label,
             ('0x' || substr(md5('cb|' || CAST(vec_id AS VARCHAR)), 1, 8))::UBIGINT AS h
      FROM embeddings
    ),
    b AS (
      SELECT vec_id, label,
             (ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1) // {_CB_BATCH} AS batch_id
      FROM v
    ),
    lc AS (SELECT batch_id, label, COUNT(*) AS c FROM b GROUP BY 1, 2)
    SELECT CAST(batch_id AS BIGINT) AS batch_id,
           CAST(SUM(c) AS BIGINT) AS batch_size,
           CAST(COUNT(*) AS BIGINT) AS n_labels,
           CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS collision_pairs,
           CAST(CASE WHEN SUM(c) > 1
                     THEN SUM(c * (c - 1) // 2) * 1000000
                          // (SUM(c) * (SUM(c) - 1) // 2)
                     ELSE 0 END AS BIGINT) AS collision_ppm
    FROM lc GROUP BY batch_id
    ORDER BY batch_id
    """,
    tags=("curation", "contrastive", "batching"),
)
def curation_contrastive_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-batch negative sampling plan for contrastive training: vectors
    shuffle deterministically (md5 order — the reproducible epoch-0
    permutation) into batches of {_CB_BATCH}, and each batch reports its
    LABEL-COLLISION load — pairs inside the batch that share a label and
    would therefore be FALSE negatives under the in-batch-negatives
    assumption (InfoNCE treats every other in-batch item as a negative;
    collisions silently corrupt the loss). collision_ppm per batch is the
    exact share of in-batch pairs that are collisions; a corpus whose
    batches run hot here needs label-aware batching or the
    mine_hard_negatives explicit-negative route instead.

    Exactness: the permutation is a total order on (md5, vec_id); batch
    ids are row_number div {_CB_BATCH}; collision counts are exact
    c·(c−1)/2 integers.

    Scale: the global row_number is the one serial-looking step — in
    production the same md5 key is RANGE-partitioned and batch ids are
    assigned per range with size offsets (the two-level prefix shape),
    which preserves this exact output; the audit itself is one
    (batch, label) rollup."""
    v = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.conv(
            F.substring(F.md5(F.concat(F.lit("cb|"), F.col("vec_id").cast("string"))), 1, 8),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    b = v.select(
        "vec_id",
        "label",
        F.expr(f"(row_number() OVER (ORDER BY h, vec_id) - 1) div {_CB_BATCH}").alias(
            "batch_id"
        ),
    )
    lc = b.groupBy("batch_id", "label").agg(F.count(F.lit(1)).alias("c"))
    return (
        lc.groupBy("batch_id")
        .agg(
            F.sum("c").cast("bigint").alias("batch_size"),
            F.count(F.lit(1)).cast("bigint").alias("n_labels"),
            F.expr("sum(c * (c - 1) div 2)").cast("bigint").alias("collision_pairs"),
            # a tail batch of exactly 1 row has zero pairs: the div-by-0 would
            # yield NULL on both engines, turning the column nullable and
            # tripping the pandas NaN-vs-None fetch-path hazard — define the
            # collision share of an empty pair set as 0 instead
            F.expr(
                "CASE WHEN sum(c) > 1 THEN sum(c * (c - 1) div 2) * 1000000"
                " div (sum(c) * (sum(c) - 1) div 2) ELSE 0 END"
            )
            .cast("bigint")
            .alias("collision_ppm"),
        )
        .select(
            F.col("batch_id").cast("bigint").alias("batch_id"),
            "batch_size",
            "n_labels",
            "collision_pairs",
            "collision_ppm",
        )
        .orderBy("batch_id")
    )


# --------------------------------------------------------------------------
# retention selection-bias audit (does dedup skew the corpus mix?)
# --------------------------------------------------------------------------


@register(
    "curation_retention_bias_audit",
    sql=f"""
    WITH RECURSIVE {_SQL_COMPONENT_CHAIN},
    tok AS (
      SELECT doc_id, CAST(LEN({_SQL_TOKENS}) AS BIGINT) AS n_tokens FROM documents
    ),
    ranked AS (
      SELECT c.cluster_id, c.doc_id,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY t.n_tokens DESC, c.doc_id) AS rk
      FROM comp c JOIN tok t USING (doc_id)
    ),
    dropped AS (SELECT doc_id FROM ranked WHERE rk > 1),
    before AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_before
               FROM documents GROUP BY source),
    after AS (
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_after
      FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
      GROUP BY d.source
    ),
    tots AS (
      SELECT CAST(SUM(n_before) AS BIGINT) AS tb,
             (SELECT CAST(SUM(n_after) AS BIGINT) FROM after) AS ta
      FROM before
    )
    SELECT b.source, b.n_before, COALESCE(a.n_after, 0) AS n_after,
           CAST(b.n_before - COALESCE(a.n_after, 0) AS BIGINT) AS n_dropped,
           CAST(b.n_before * 1000000 // tots.tb AS BIGINT) AS share_before_ppm,
           CAST(COALESCE(a.n_after, 0) * 1000000 // tots.ta AS BIGINT)
             AS share_after_ppm,
           CAST(COALESCE(a.n_after, 0) * 1000000 // tots.ta
                - b.n_before * 1000000 // tots.tb AS BIGINT) AS share_drift_ppm
    FROM before b
    LEFT JOIN after a ON a.source = b.source
    CROSS JOIN tots
    ORDER BY b.source
    """,
    tags=("curation", "dedup", "bias-audit"),
)
def curation_retention_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-bias audit of the near-dup retention policy: compare each
    source's corpus share BEFORE dedup vs AFTER keep-best retention
    (dedup_cluster_keep_best's exact winners). Dedup is never neutral —
    sources that syndicate content lose disproportionally — and a training
    mix silently reweighted by dedup is a classic data-pipeline bug; this
    report is the check that the mix you designed (mix_waterfill_budget)
    is the mix that survives.

    Survivors = cluster winners plus every never-clustered doc, derived
    as documents minus rank>1 cluster members (one anti-join), so the two
    distributions share the exact cluster semantics of the dedup path
    (shared recursive-CTE oracle chain). Shares and drift are exact
    integer ppm.

    Scale: the cluster build dominates (bucketed LSH, inherited); the
    audit itself is two source-keyed counts and an anti-join on cluster
    losers — tiny by construction."""
    from pumle_spark.workload.dedup import dedup_minhash_clusters

    docs = table(spark, sf_dir, "documents")
    clusters = dedup_minhash_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    toks = docs.select("doc_id", F.size(_tokens_col()).cast("bigint").alias("n_tokens"))
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_tokens").desc(), F.col("doc_id"))
    dropped = (
        clusters.join(toks, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") > 1)
        .select("doc_id")
    )
    before = docs.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_before"))
    after = (
        docs.join(dropped, "doc_id", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_after"))
    )
    tots = before.agg(F.sum("n_before").cast("bigint").alias("tb")).crossJoin(
        after.agg(F.sum("n_after").cast("bigint").alias("ta"))
    )
    return (
        before.join(after, "source", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "source",
            "n_before",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            (F.col("n_before") - F.coalesce("n_after", F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
            F.expr("n_before * 1000000 div tb").cast("bigint").alias("share_before_ppm"),
            F.expr("coalesce(n_after, 0) * 1000000 div ta")
            .cast("bigint")
            .alias("share_after_ppm"),
            F.expr(
                "coalesce(n_after, 0) * 1000000 div ta - n_before * 1000000 div tb"
            )
            .cast("bigint")
            .alias("share_drift_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# DSIR: data selection via hashed-n-gram importance resampling weights
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 1024
_DSIR_TARGET_SOURCE = "src1"  # the "looks like this" exemplar subset


@register(
    "curation_dsir_weights",
    sql=f"""
    WITH toks AS (
      SELECT doc_id, source, unnest({_SQL_TOKENS}) AS t FROM documents
    ),
    tok_ok AS (
      SELECT doc_id, source,
             ('0x' || substr(md5('dsir|' || t), 1, 8))::UBIGINT % {_DSIR_BUCKETS}
               AS b
      FROM toks WHERE t <> ''
    ),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nr FROM tok_ok GROUP BY b),
    tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nt FROM tok_ok
            WHERE source = '{_DSIR_TARGET_SOURCE}' GROUP BY b),
    grid AS (
      SELECT g.b, COALESCE(t.nt, 0) + 1 AS nt1, COALESCE(r.nr, 0) + 1 AS nr1
      FROM (SELECT unnest(generate_series(0, {_DSIR_BUCKETS - 1})) AS b) g
      LEFT JOIN tgt t ON t.b = g.b
      LEFT JOIN raw r ON r.b = g.b
    ),
    tots AS (SELECT CAST(SUM(nt1) AS BIGINT) AS tt,
                    CAST(SUM(nr1) AS BIGINT) AS rt FROM grid),
    w AS (
      SELECT b, CAST(ROUND(ln(CAST(nt1 AS DOUBLE) * rt
                              / (CAST(nr1 AS DOUBLE) * tt)) * 1000000) AS BIGINT)
                  AS w_micro
      FROM grid CROSS JOIN tots
    ),
    per AS (
      SELECT k.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(w.w_micro) AS BIGINT) AS dsir_micro
      FROM tok_ok k JOIN w ON w.b = k.b GROUP BY k.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_tokens, 0) AS n_tokens,
           COALESCE(p.dsir_micro, 0) AS dsir_micro
    FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    tags=("curation", "dsir", "importance-sampling", "selection"),
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling") weights over hashed unigram features: each
    doc scores Σ_tokens log( p_target(bucket) / p_raw(bucket) ) with
    {_DSIR_BUCKETS} hash buckets and add-one smoothing, target = the
    '{_DSIR_TARGET_SOURCE}' exemplar subset — the standard cheap recipe
    for "select web data that looks like the curated set" before any
    expensive model-based scoring. A selection pass keeps the top mass by
    dsir_micro (select_top_mass_per_source's shape); this query is the
    weighting stage, emitted per doc so the cut policy stays a separate
    knob.

    Exactness: bucket counts are exact integers; each bucket's log-ratio
    ln(nt·R/(nr·T)) is ONE double expression over exact integers,
    quantized ONCE to micro-units; per-doc weights are exact BIGINT sums
    of bucket weights — the once-quantized-step discipline, so
    cross-engine float summation order cannot reorder the selection.

    Scale: the bucket LM is a fixed {_DSIR_BUCKETS}-row broadcast built by
    one token rollup (map-side combinable); per-doc scoring is a broadcast
    equi-join on the token stream plus one doc rollup — no corpus-sized
    shuffle beyond the (doc_id) agg, no pairwise anything. The two LM
    totals ride a single-row scalar crossJoin (plan_lint ALLOW class).

    Reference basis: arXiv:2302.03169 §3 (hashed n-gram features,
    importance weight = log-ratio of bag-of-buckets LMs)."""
    docs = table(spark, sf_dir, "documents")
    tok_ok = (
        docs.select("doc_id", "source", F.explode(_tokens_col()).alias("t"))
        .filter(F.col("t") != "")
        .select(
            "doc_id",
            "source",
            (
                F.conv(F.substring(F.md5(F.concat(F.lit("dsir|"), F.col("t"))), 1, 8), 16, 10)
                .cast("bigint")
                % _DSIR_BUCKETS
            ).alias("b"),
        )
    )
    raw = tok_ok.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("nr"))
    tgt = (
        tok_ok.filter(F.col("source") == _DSIR_TARGET_SOURCE)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    )
    grid = (
        spark.range(_DSIR_BUCKETS)
        .select(F.col("id").cast("bigint").alias("b"))
        .join(tgt, "b", "left")
        .join(raw, "b", "left")
        .select(
            "b",
            (F.coalesce("nt", F.lit(0)) + 1).cast("bigint").alias("nt1"),
            (F.coalesce("nr", F.lit(0)) + 1).cast("bigint").alias("nr1"),
        )
    )
    tots = grid.agg(
        F.sum("nt1").cast("bigint").alias("tt"),
        F.sum("nr1").cast("bigint").alias("rt"),
    )
    w = grid.crossJoin(F.broadcast(tots)).select(
        "b",
        F.round(
            F.log(
                F.col("nt1").cast("double")
                * F.col("rt")
                / (F.col("nr1").cast("double") * F.col("tt"))
            )
            * 1000000
        )
        .cast("bigint")
        .alias("w_micro"),
    )
    per = (
        tok_ok.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("w_micro").cast("bigint").alias("dsir_micro"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("dsir_micro", F.lit(0)).cast("bigint").alias("dsir_micro"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# SoftDeDup: per-document repetition weights instead of hard dropping
# --------------------------------------------------------------------------


@register(
    "curation_softdedup_weights",
    sql=f"""
    WITH RECURSIVE {_SQL_COMPONENT_CHAIN},
    sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n FROM comp GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(s.n, 1) AS cluster_size,
           CAST(1000000 // COALESCE(s.n, 1) AS BIGINT) AS weight_micro
    FROM documents d
    LEFT JOIN comp c ON c.doc_id = d.doc_id
    LEFT JOIN sz s ON s.cluster_id = c.cluster_id
    ORDER BY d.doc_id
    """,
    tags=("curation", "dedup", "soft-dedup", "weighting"),
)
def curation_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of dropping near-duplicates, DOWNWEIGHT
    them — every member of a MinHash near-dup cluster trains with weight
    1/|cluster| (exact micro-units), singletons keep weight 1. The sum of
    weights over a cluster is one document-equivalent, so the effective
    epoch count of repeated content is held at 1 while unique phrasing
    within the near-dups still contributes (the reason soft-dedup
    measurably beats hard dropping on loss-per-token — He et al. 2024,
    "SoftDedup", ACL; same spirit as sampling by 1/dup-count in the
    Gopher/MassiveText pipeline).

    Composes dedup_minhash_clusters' exact cluster semantics (shared
    recursive-CTE oracle chain) with one size rollup and a left join back
    to the corpus. Exactness: integer division of 1e6 by an exact cluster
    size — no floats. Scale: cluster build is the bucketed LSH path;
    everything after is |clusters| + one broadcast-sized join per doc."""
    from pumle_spark.workload.dedup import dedup_minhash_clusters

    docs = table(spark, sf_dir, "documents").select("doc_id")
    clusters = dedup_minhash_clusters(spark, sf_dir).select(
        "doc_id", F.col("n_docs").cast("bigint").alias("cluster_size")
    )
    return (
        docs.join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_size", F.lit(1)).cast("bigint").alias("cluster_size"),
            F.expr("1000000 div coalesce(cluster_size, 1)")
            .cast("bigint")
            .alias("weight_micro"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# ROUGE-1 audit of the keep-best retention decision
# --------------------------------------------------------------------------


@register(
    "text_rouge_cluster_pairs",
    sql=f"""
    WITH RECURSIVE {_SQL_COMPONENT_CHAIN},
    tok AS (
      SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS t FROM documents)
      WHERE t <> '' GROUP BY doc_id, t
    ),
    dlen AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tok FROM tok GROUP BY 1),
    ranked AS (
      SELECT c.cluster_id, c.doc_id, l.n_tok,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY l.n_tok DESC, c.doc_id) AS rk
      FROM comp c JOIN dlen l USING (doc_id)
    ),
    kept AS (SELECT cluster_id, doc_id AS kept_doc_id, n_tok AS n_kept
             FROM ranked WHERE rk = 1),
    dropped AS (SELECT cluster_id, doc_id AS dropped_doc_id, n_tok AS n_dropped
                FROM ranked WHERE rk > 1),
    overlap AS (
      SELECT d.cluster_id, k.kept_doc_id, d.dropped_doc_id,
             MAX(k.n_kept) AS n_kept, MAX(d.n_dropped) AS n_dropped,
             CAST(SUM(LEAST(ta.cnt, tb.cnt)) AS BIGINT) AS n_overlap
      FROM dropped d
      JOIN kept k ON k.cluster_id = d.cluster_id
      JOIN tok ta ON ta.doc_id = k.kept_doc_id
      JOIN tok tb ON tb.doc_id = d.dropped_doc_id AND tb.t = ta.t
      GROUP BY d.cluster_id, k.kept_doc_id, d.dropped_doc_id
    )
    SELECT cluster_id, kept_doc_id, dropped_doc_id, n_overlap,
           CAST(CASE WHEN n_dropped > 0
                     THEN n_overlap * 1000000 // n_dropped ELSE 0 END AS BIGINT)
             AS rouge1_recall_ppm,
           CAST(CASE WHEN n_kept + n_dropped > 0
                     THEN 2 * n_overlap * 1000000 // (n_kept + n_dropped)
                     ELSE 0 END AS BIGINT) AS rouge1_f1_ppm
    FROM overlap
    ORDER BY cluster_id, dropped_doc_id
    """,
    tags=("curation", "dedup", "rouge", "evaluation"),
)
def text_rouge_cluster_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 audit of what keep-best dedup actually throws away: for
    every (kept, dropped) pair inside a MinHash near-dup cluster, the
    unigram-multiset overlap Σ_w min(cnt_kept, cnt_dropped) and the
    resulting ROUGE-1 recall (share of the DROPPED doc's tokens that
    survive in the kept one) and F1. High recall = the drop was safe
    (content is covered); a dropped doc with LOW recall is evidence the
    cluster conflated genuinely different documents — the per-pair drill-
    down behind curation_retention_bias_audit's aggregate view, using the
    summarization-eval metric the field already trusts.

    Exactness: token multiset counts are exact integers; overlap is an
    exact min-sum; both ratios are integer cross-multiplied ppm — no
    floats. Scale: pairs exist only within verified near-dup clusters
    (small by construction), and the overlap join is keyed (doc, term) —
    never corpus×corpus; the cluster build is the bucketed LSH path."""
    from pumle_spark.workload.dedup import dedup_minhash_clusters

    tok = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_tokens_col()).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    dlen = tok.groupBy("doc_id").agg(F.sum("cnt").cast("bigint").alias("n_tok"))
    clusters = dedup_minhash_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    ranked = (
        clusters.join(dlen, "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.col("n_tok").desc(), F.col("doc_id")
                )
            ),
        )
    )
    kept = ranked.filter(F.col("rk") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("n_tok").alias("n_kept"),
    )
    dropped = ranked.filter(F.col("rk") > 1).select(
        "cluster_id",
        F.col("doc_id").alias("dropped_doc_id"),
        F.col("n_tok").alias("n_dropped"),
    )
    ta = tok.select(F.col("doc_id").alias("kept_doc_id"), "t", F.col("cnt").alias("ca"))
    tb = tok.select(
        F.col("doc_id").alias("dropped_doc_id"), "t", F.col("cnt").alias("cb")
    )
    overlap = (
        dropped.join(kept, "cluster_id")
        .join(ta, "kept_doc_id")
        .join(tb, ["dropped_doc_id", "t"])
        .groupBy("cluster_id", "kept_doc_id", "dropped_doc_id")
        .agg(
            F.max("n_kept").cast("bigint").alias("n_kept"),
            F.max("n_dropped").cast("bigint").alias("n_dropped"),
            F.sum(F.least("ca", "cb")).cast("bigint").alias("n_overlap"),
        )
    )
    return overlap.select(
        "cluster_id",
        "kept_doc_id",
        "dropped_doc_id",
        "n_overlap",
        F.expr(
            "CASE WHEN n_dropped > 0 THEN n_overlap * 1000000 div n_dropped"
            " ELSE 0 END"
        ).cast("bigint").alias("rouge1_recall_ppm"),
        F.expr(
            "CASE WHEN n_kept + n_dropped > 0"
            " THEN 2 * n_overlap * 1000000 div (n_kept + n_dropped) ELSE 0 END"
        ).cast("bigint").alias("rouge1_f1_ppm"),
    ).orderBy("cluster_id", "dropped_doc_id")


# --------------------------------------------------------------------------
# dedup cascade: exact -> near-dup, with per-stage attrition accounting
# --------------------------------------------------------------------------

_CSC_J_PPM = 300000  # near-dup removal threshold: verified Jaccard >= 0.3


@register(
    "curation_dedup_cascade",
    sql=f"""
    WITH d AS (
      SELECT doc_id,
             {{tokens}} AS ws,
             md5(array_to_string({{tokens}}, ' ')) AS norm_h
      FROM documents
    ),
    base AS (SELECT doc_id, LEN(ws) AS n_tokens, norm_h FROM d),
    keeper AS (SELECT norm_h, MIN(doc_id) AS keep_id FROM base GROUP BY norm_h),
    s1 AS (  -- stage-1 verdict: exact-normalized duplicate unless the keeper
      SELECT b.doc_id, b.n_tokens,
             CASE WHEN b.doc_id <> k.keep_id THEN 1 ELSE 0 END AS removed_exact
      FROM base b JOIN keeper k ON k.norm_h = b.norm_h
    ),
    {{shingles}},
    mh AS (
      SELECT doc_id, seed,
             MIN(substr(md5(CAST(seed // 4 AS VARCHAR) || '|' || sh),
                        1 + 8 * (seed % 4), 8)) AS mhash
      FROM sh3 CROSS JOIN generate_series(0, 7) s(seed)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band,
             md5(string_agg(CAST(seed AS VARCHAR) || ':' || mhash, '|' ORDER BY seed))
               AS band_key
      FROM mh GROUP BY doc_id, seed // 2
    ),
    survivors AS (SELECT doc_id FROM s1 WHERE removed_exact = 0),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      JOIN survivors sa ON sa.doc_id = a.doc_id
      JOIN survivors sb ON sb.doc_id = b.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh3 a ON a.doc_id = c.doc_a
      JOIN sh3 b ON b.doc_id = c.doc_b AND b.sh = a.sh
      GROUP BY 1, 2
    ),
    near_removed AS (  -- anchor-wins: the smaller doc_id of a passing pair stays
      SELECT DISTINCT v.doc_b AS doc_id
      FROM verified v
      JOIN sizes sa ON sa.doc_id = v.doc_a
      JOIN sizes sb ON sb.doc_id = v.doc_b
      WHERE v.n_common * 1000000 // (sa.n_sh + sb.n_sh - v.n_common) >= {_CSC_J_PPM}
    ),
    staged AS (
      SELECT s1.doc_id, s1.n_tokens,
             CASE WHEN s1.removed_exact = 1 THEN '1_exact_dup'
                  WHEN nr.doc_id IS NOT NULL THEN '2_near_dup'
                  ELSE '3_kept' END AS stage
      FROM s1 LEFT JOIN near_removed nr ON nr.doc_id = s1.doc_id
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS all_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS all_tokens FROM staged),
    g AS (
      SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM staged GROUP BY stage
    ),
    all_stages(stage) AS (VALUES ('1_exact_dup'), ('2_near_dup'), ('3_kept'))
    SELECT a.stage,
           COALESCE(g.n_docs, 0) AS n_docs,
           COALESCE(g.n_tokens, 0) AS n_tokens,
           CAST(COALESCE(g.n_docs, 0) * 1000000 // t.all_docs AS BIGINT) AS doc_share_ppm,
           CAST(COALESCE(g.n_tokens, 0) * 1000000 // t.all_tokens AS BIGINT) AS token_share_ppm
    FROM all_stages a LEFT JOIN g ON g.stage = a.stage CROSS JOIN tot t
    """.replace("{tokens}", "string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')")
       .replace("{shingles}", __import__("pumle_spark.workload.dedup", fromlist=["_SQL_SHINGLES"])._SQL_SHINGLES.strip()),
    tags=("curation", "dedup", "cascade", "funnel"),
)
def curation_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup CASCADE a training-data pipeline actually runs, with
    per-stage attrition accounting: stage 1 removes exact-normalized
    duplicates (keep the lowest doc_id per md5(normalized text) group);
    stage 2 runs MinHash-LSH near-dup detection among the stage-1
    survivors and removes the LARGER doc of every verified pair with
    Jaccard >= {_CSC_J_PPM} ppm (anchor-wins policy; all three stage rows
    are always emitted, zeros included — this corpus has no exact dups,
    which the report should SAY rather than omit — deterministic and
    order-free, the simple greedy used when a full connected-components
    pass is not worth its shuffles); stage 3 is what ships. Output: doc
    and token attrition per stage in exact ppm — the cascade's cost
    report next to curation_quality_funnel's rule report.

    ONE definition everywhere: the tokenizer, shingle CTE, minhash family
    and banding are the dedup module's (_SQL_SHINGLES,
    minhash_signatures/lsh_candidate_pairs on the Spark side).

    Scale shape: stage 1 is a hash-groupBy on a 32-byte key; stage 2's
    quadratic work stays inside LSH buckets (Σ_bucket c²) filtered to
    survivors BEFORE verification; attrition is one |stages|-row rollup.
    Nothing all-pairs, nothing driver-side."""
    from pumle_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures
    from pumle_spark.workload.dedup import _shingles

    docs = table(spark, sf_dir, "documents")
    from pumle_spark.workload.dedup import _tokens_col

    # pins: the keeper pick, stage 1 and the attrition rollup re-read base and s1 (PERF.md "Pins")
    base = docs.select(
        "doc_id",
        F.size(_tokens_col()).alias("n_tokens"),
        F.md5(F.array_join(_tokens_col(), " ")).alias("norm_h"),
    ).localCheckpoint(eager=False)
    keeper = base.groupBy("norm_h").agg(F.min("doc_id").alias("keep_id"))
    s1 = base.join(keeper, "norm_h").select(
        "doc_id",
        "n_tokens",
        F.when(F.col("doc_id") != F.col("keep_id"), 1).otherwise(0).alias("removed_exact"),
    ).localCheckpoint(eager=False)

    # pin: sizes, signatures and verification all read the shingles (PERF.md "Pins")
    sh = _shingles(spark, sf_dir).localCheckpoint(eager=False)  # (doc_id, sh) distinct
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_sh"))
    sig = minhash_signatures(
        sh.select(F.col("doc_id").alias("key"), "sh"), 8
    )
    survivors = s1.filter(F.col("removed_exact") == 0).select("doc_id")
    cand = (
        lsh_candidate_pairs(sig, 8, rows_per_band=2)
        .select(F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b"))
        .join(survivors.select(F.col("doc_id").alias("doc_a")), "doc_a")
        .join(survivors.select(F.col("doc_id").alias("doc_b")), "doc_b")
    )
    verified = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "sh"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "sh"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    near_removed = (
        verified.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sa")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sb")), "doc_b")
        .filter(
            F.expr(f"n_common * 1000000 div (sa + sb - n_common) >= {_CSC_J_PPM}")
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    staged = (
        s1.join(near_removed.withColumn("near", F.lit(1)), "doc_id", "left_outer")
        .select(
            "n_tokens",
            F.when(F.col("removed_exact") == 1, "1_exact_dup")
            .when(F.col("near").isNotNull(), "2_near_dup")
            .otherwise("3_kept")
            .alias("stage"),
        )
    )
    tot = staged.agg(
        F.count(F.lit(1)).cast("bigint").alias("all_docs"),
        F.sum("n_tokens").cast("bigint").alias("all_tokens"),
    )
    g = staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    all_stages = local_frame(
        spark, [("1_exact_dup",), ("2_near_dup",), ("3_kept",)], "stage string"
    )
    return (
        F.broadcast(all_stages)
        .join(g, "stage", "left_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            "stage",
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.expr("coalesce(n_docs, 0) * 1000000 div all_docs").cast("bigint").alias("doc_share_ppm"),
            F.expr("coalesce(n_tokens, 0) * 1000000 div all_tokens").cast("bigint").alias("token_share_ppm"),
        )
    )


# --------------------------------------------------------------------------
# preference-pair construction (DPO / reward-model data prep)
# --------------------------------------------------------------------------

_PREF_BAND_TOK = 20  # length-band width (tokens): pairs compare like with like
_PREF_MIN_MARGIN = 1  # drop pairs whose quality gap rounds to zero milli


@register(
    "curation_preference_pairs",
    sql=f"""
    WITH d AS (
      SELECT source, doc_id, CAST(LEN(ws) AS BIGINT) AS n_tokens,
             CAST(LENGTH(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                  AS BIGINT) AS n_alnum,
             CAST(LENGTH(text) AS BIGINT) AS n_chars
      FROM (SELECT source, doc_id, text, {_SQL_TOKENS} AS ws FROM documents)
    ),
    scored AS (
      SELECT source, doc_id, n_tokens,
             n_tokens // {_PREF_BAND_TOK} AS band,
             (n_alnum * 1000) // NULLIF(n_chars, 0) AS q
      FROM d
    ),
    pairs AS (
      SELECT source, CAST(band AS BIGINT) AS band,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             MAX(struct_pack(v1 := q, v2 := -doc_id)) AS ch,
             MIN(struct_pack(v1 := q, v2 := doc_id)) AS rj
      FROM scored GROUP BY source, band
    )
    SELECT source, band, n_docs,
           CAST(-(ch).v2 AS BIGINT) AS chosen_doc_id,
           CAST((rj).v2 AS BIGINT) AS rejected_doc_id,
           CAST((ch).v1 AS BIGINT) AS chosen_quality_milli,
           CAST((rj).v1 AS BIGINT) AS rejected_quality_milli,
           CAST((ch).v1 - (rj).v1 AS BIGINT) AS margin_milli
    FROM pairs
    WHERE n_docs >= 2 AND (ch).v1 - (rj).v1 >= {_PREF_MIN_MARGIN}
    ORDER BY source, band
    """,
    tags=("curation", "preference", "dpo"),
)
def curation_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction — the (chosen, rejected) data-prep
    step behind DPO / reward-model training (Rafailov et al. 2023,
    arXiv:2305.18290; Stiennon et al. 2020 ran the same best-vs-worst
    selection over human scores): within each (source, length-band)
    stratum — bands of {_PREF_BAND_TOK} tokens so pairs compare like with
    like, the standard anti-length-bias control — pick the
    highest-quality document as `chosen` and the lowest as `rejected`
    (quality = alnum-density milli, the same exact-integer score
    `select_top_mass_per_source` ranks by), and keep pairs whose margin
    is at least {_PREF_MIN_MARGIN} milli. Strata with fewer than 2 docs
    or an all-equal quality score produce no pair — a degenerate pair
    teaches a reward model nothing.

    Determinism: both extrema are struct-ordered argmaxes with doc_id
    tiebreaks pinned in the struct fields themselves (chosen: quality
    DESC then doc_id ASC via MAX(q, -doc_id); rejected: quality ASC then
    doc_id ASC via MIN(q, doc_id)) — total orders on both engines, never
    a bare MAX_BY tie.

    Scale shape: one narrow projection (token count + alnum density) and
    ONE keyed groupBy on (source, band) carrying two struct extrema —
    map-side combinable, no join, no window, no second corpus pass. At
    100 TB this is a single shuffle of |sources x bands| partial rows."""
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        F.size(_tokens_col()).cast("bigint").alias("n_tokens"),
        (
            F.length(F.regexp_replace(F.lower("text"), "[^a-z0-9]", "")) * 1000
        ).cast("bigint").alias("alnum_k"),
        F.length("text").cast("bigint").alias("n_chars"),
    ).select(
        "source",
        "doc_id",
        F.expr(f"n_tokens div {_PREF_BAND_TOK}").cast("bigint").alias("band"),
        F.expr("alnum_k div nullif(n_chars, 0)").cast("bigint").alias("q"),
    )
    pairs = scored.groupBy("source", "band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max(F.struct(F.col("q").alias("v1"), (-F.col("doc_id")).alias("v2"))).alias("ch"),
        F.min(F.struct(F.col("q").alias("v1"), F.col("doc_id").alias("v2"))).alias("rj"),
    )
    return (
        pairs.filter(
            (F.col("n_docs") >= 2)
            & (F.col("ch.v1") - F.col("rj.v1") >= _PREF_MIN_MARGIN)
        )
        .select(
            "source",
            "band",
            "n_docs",
            (-F.col("ch.v2")).cast("bigint").alias("chosen_doc_id"),
            F.col("rj.v2").cast("bigint").alias("rejected_doc_id"),
            F.col("ch.v1").cast("bigint").alias("chosen_quality_milli"),
            F.col("rj.v1").cast("bigint").alias("rejected_quality_milli"),
            (F.col("ch.v1") - F.col("rj.v1")).cast("bigint").alias("margin_milli"),
        )
        .orderBy("source", "band")
    )
