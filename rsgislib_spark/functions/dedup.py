"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
phash near-dup (images).

Scale shapes:
 - exact / fingerprint: hash → groupBy (one shuffle on a short hash key).
 - MinHash+LSH: tokens explode → per-(doc, seed) min-hash agg → band
   signatures → self-join on (band, signature) — the classic
   shingle→minhash→band→bucket-join pipeline; candidate pairs only, the
   exact Jaccard verify joins back token sets for candidates only.
 - SimHash: pure Catalyst (tokens explode → JVM md5 → 64 conditional-sum
   aggregates → bit reassembly); bucket by hash prefix bands for
   candidate pairing.
 - phash: Hamming-ball grouping over the int64 phash column via 4-band
   exact-match blocking (any near-dup within radius r<=k bits shares at
   least one of k+1 bands — pigeonhole).

MinHash here uses md5-based hash functions (``min(md5(token || seed))``
lexicographically) so the DuckDB oracle can recompute signatures
byte-identically.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

DEFAULT_SEEDS = 4  # 2 bands × 2 rows
DEFAULT_BANDS = 2


def doc_tokens(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct (doc, token) pairs, whitespace tokenization. A thin
    input scan is widened first so the explode+hash work spreads over
    all cores (no-op when the source is already wide)."""
    from rsgislib_spark.qcommon import widen

    return (
        widen(df).select(id_col, F.explode(F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))).alias("token"))
        .distinct()
    )


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: md5(text) groups; canonical = min id per group."""
    h = df.select(id_col, F.md5(F.col(text_col)).alias("text_hash"))
    return h.groupBy("text_hash").agg(
        F.min(id_col).alias("canonical_id"),
        F.count("*").alias("group_size"),
    )


def minhash_signatures(
    tokens: DataFrame, n_seeds: int = DEFAULT_SEEDS, id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc MinHash signature columns mh_0..mh_{n-1} (md5-min hashes)."""
    aggs = [
        F.min(F.md5(F.concat(F.col("token"), F.lit(f"#seed{s}")))).alias(f"mh_{s}")
        for s in range(n_seeds)
    ]
    return tokens.groupBy(id_col).agg(*aggs)


def minhash_band_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_seeds: int = DEFAULT_SEEDS,
    n_bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing >=1 LSH band signature."""
    rows = n_seeds // n_bands
    # materialize the signatures once: the band self-join evaluates BOTH
    # sides, and without this the whole token explode + distinct +
    # min-hash aggregation recomputes once per side (measured 2-3× the
    # wall). localCheckpoint (not persist) so the blocks are reclaimed by
    # the ContextCleaner when the result plan is GC'd — a plain persist
    # leaks a CacheManager entry per invocation in a long-lived session.
    # n_docs × n_seeds short strings — small relative to the corpus.
    sig = minhash_signatures(
        doc_tokens(df, id_col, text_col), n_seeds, id_col
    ).localCheckpoint(eager=True)
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh_{b * rows + r}") for r in range(rows)]
        bands.append(
            sig.select(
                F.col(id_col), F.lit(b).alias("band"), F.concat(*cols).alias("sig")
            )
        )
    band_df = bands[0]
    for b in bands[1:]:
        band_df = band_df.unionByName(b)
    a = band_df.alias("a")
    bb = band_df.alias("b")
    return (
        a.join(bb, ["band", "sig"], "inner")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Distributed connected components over an undirected edge list —
    the group-assignment stage of a dedup pipeline (candidate pairs →
    duplicate GROUPS → canonical doc per group). The reference reaches
    the same result single-node via union-find inside clumping
    (segmentation/RSGISClumpPnts; our raster analogue is
    operators/clump.py) — here it is min-label propagation with pointer
    jumping, each round two equi-joins + one agg, so every step is a
    plain shuffle Catalyst can plan and AQE can re-balance:

      1. neighbour step: label[u] <- min(label[u], min over (u,v) edges
         of label[v]);
      2. pointer jump:   label[u] <- label[label[u]] (labels are always
         node ids, so the label table joins itself) — collapses chains
         in O(log diameter) rounds instead of O(diameter).

    Lineage is truncated per round with localCheckpoint (an iterative
    loop would otherwise stack 25 shuffles in one plan), and convergence
    is detected by the per-round SUM(label): labels only ever decrease,
    so the sum is strictly decreasing until the fixed point — one cheap
    scalar agg per round instead of a self-join diff.

    Returns (node, label) with label = MIN node id of the component —
    deterministic, so the label doubles as the canonical member id.
    Nodes with no edges are absent (singletons are not duplicate
    groups); left-join the output to keep them.
    """
    sym = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    sym = (
        sym.unionByName(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    if prev_sum is None:  # empty edge list
        return labels
    for _ in range(max_iter):
        nmin = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nmin, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        parents = stepped.select(
            F.col("node").alias("label"), F.col("label").alias("parent_label")
        )
        labels = (
            stepped.join(parents, "label", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("parent_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:
            return labels
        prev_sum = new_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "raise max_iter (pointer jumping needs ~log2(diameter) rounds)"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_token_df: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard via token inverted index: explode →
    self-join on token → |A∩B| counts → sizes join → filter.

    ``max_token_df`` is the FREQUENT-TOKEN FENCE for standalone use at
    scale: the inverted-index self-join produces O(df²) pairs per token,
    so one stop-word token with df=10⁶ yields 10¹² pairs. With the fence
    set, tokens with document frequency > max_token_df are excluded from
    CANDIDATE GENERATION only — the Jaccard of every surviving pair is
    still computed EXACTLY over the full token sets (a second equi-join
    back to the index, linear in the candidates' token counts). Pairs
    overlapping ONLY in frequent tokens are missed by design; with a cap
    c and min doc size m their Jaccard is < c·(number of frequent shared
    tokens)/m, far below useful thresholds. Without the fence (default),
    behaviour is the classic exact all-pairs index join — the verify
    stage after LSH blocking, where the input is already candidates.
    """
    # the inverted-index self-join + sizes join evaluate the token
    # explode up to 4×; materialize the (doc, token) pairs once
    # (localCheckpoint — auto-reclaimed on GC, unlike persist which
    # would accumulate CacheManager entries across invocations)
    toks = doc_tokens(df, id_col, text_col).localCheckpoint(eager=True)
    sizes = toks.groupBy(id_col).agg(F.count("*").alias("n_tok"))
    if max_token_df is not None:
        tok_df = toks.groupBy("token").agg(F.count("*").alias("tdf"))
        rare = tok_df.filter(F.col("tdf") <= max_token_df).select("token")
        idx = toks.join(rare, "token")
    else:
        idx = toks
    a = idx.alias("a")
    b = idx.alias("b")
    cand = (
        a.join(b, "token")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )
    if max_token_df is not None:
        # exact |A∩B| over FULL token sets, candidates only
        cand = cand.distinct()
        ta = toks.select(F.col(id_col).alias("id_a"), F.col("token").alias("tok_a"))
        tb = toks.select(F.col(id_col).alias("_idb"), F.col("token").alias("tok_b"))
        inter = (
            cand.join(ta, "id_a")
            .join(tb, (F.col("id_b") == F.col("_idb")) & (F.col("tok_a") == F.col("tok_b")))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        inter = cand.groupBy("id_a", "id_b").agg(F.count("*").alias("inter"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_tok").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_tok").alias("nb"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc (bit-majority of token hash vectors) —
    PURE Catalyst: tokens explode → JVM md5 → 64 conditional-sum
    aggregates (map-side partial combine, whole-stage codegen) → bit
    reassembly. Zero Python in the hot path; one shuffle on doc_id.

    Hash semantics (shared with the DuckDB oracle): hv = big-endian
    uint64 of md5(token) bytes 0..7; bit b of the signature is the
    majority sign of Σ±1 over tokens' bit b, ties → 0. The hex prefix
    splits as chars 1-8 = high 32 bits, 9-16 = low 32 bits."""
    toks = doc_tokens(df, id_col, text_col).withColumn("h", F.md5("token"))
    halves = toks.select(
        id_col,
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("lo"),
    )
    aggs = []
    for b in range(64):
        src, sh = (F.col("lo"), b) if b < 32 else (F.col("hi"), b - 32)
        bit = F.shiftrightunsigned(src, sh).bitwiseAND(F.lit(1))
        aggs.append(F.sum(bit * 2 - 1).alias(f"a{b}"))
    acc = halves.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(64):
        weight = F.lit(-(1 << 63)).cast("long") if b == 63 else F.lit(1 << b).cast("long")
        sim = sim + F.when(F.col(f"a{b}") > 0, weight).otherwise(F.lit(0).cast("long"))
    out = acc.select(id_col, sim.alias("simhash"))
    # token-less docs (empty text) keep the all-zero signature
    return df.select(id_col).join(out, id_col, "left").fillna({"simhash": 0})


def phash_near_dups(images: DataFrame, id_col: str = "image_id", max_bits: int = 3) -> DataFrame:
    """Image near-dup candidate pairs by 4-band phash blocking.

    Any pair within Hamming distance <= 3 shares at least one of 4
    16-bit bands (pigeonhole); exact Hamming verify runs on candidates.
    """
    bands = []
    for b in range(4):
        bands.append(
            images.select(
                id_col,
                "phash",
                F.lit(b).alias("band"),
                (F.shiftrightunsigned(F.col("phash"), b * 16).bitwiseAND(F.lit(0xFFFF))).alias("sig"),
            )
        )
    band_df = bands[0]
    for b in bands[1:]:
        band_df = band_df.unionByName(b)
    a, bb = band_df.alias("a"), band_df.alias("b")
    cand = (
        a.join(bb, ["band", "sig"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.phash").alias("ph_a"),
            F.col("b.phash").alias("ph_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_bits)
        .select("id_a", "id_b", "hamming")
    )


def _doc_token_base(frame: DataFrame, text_col: str, cols: list) -> DataFrame:
    """Whitespace-tokenized base for the exact-substring family:
    ``t`` = non-empty tokens, ``n_tok`` = token count, over ALL rows
    (docs shorter than the span width still get an output row — they
    just contribute no spans)."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
    return frame.select(*cols, toks.alias("t")).withColumn("n_tok", F.size("t"))


def _span_grams_expr(n: int):
    """Array column of md5 gram keys, one per sliding ``n``-token window
    of ``t`` (1-based window starts). The md5-of-space-joined-window key
    is THE cross-engine oracle contract shared by q123/q124/q125 — both
    Spark and DuckDB produce the identical lowercase-hex digest, so the
    oracles join on the same value. Callers must pre-filter to
    n_tok >= n: F.sequence(1, n_tok-(n-1)) DESCENDS for shorter docs."""
    return F.transform(
        F.sequence(F.lit(1), F.col("n_tok") - (n - 1)),
        lambda i: F.md5(F.concat_ws(" ", F.slice("t", i, n))),
    )


def duplicated_span_stats(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring (token n-gram span) duplication per document —
    the cross-document exact-substring dedup of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"),
    reduced to per-document span statistics: for each sliding window of
    ``n`` tokens, a span is DUPLICATED when it occurs in >= ``min_docs``
    distinct documents. Emits (id, n_spans, n_dup_spans, dup_ratio).

    Scale shape — two map-side-combinable shuffles over span rows, both
    keyed on the same 16-byte md5 gram key (AQE reuses the exchange for
    the co-keyed doc-frequency groupBy and flag join):
      explode spans → groupBy(gram, doc) multiplicity   [shuffle 1]
      gram doc-frequency ≥ min_docs flag                 (co-keyed)
      flag joined back on gram, groupBy(doc) rollup      [shuffle 2]
    md5 of the space-joined window keeps shuffle keys fixed-width
    instead of arbitrary-length text, and both engines (Spark, DuckDB)
    produce the identical lowercase-hex md5, so the oracle joins on the
    same key. Per-doc span totals are the closed form
    max(n_tok − n + 1, 0) — no second explode; docs shorter than ``n``
    tokens can hold no span and pass through with (0, 0, 0.0) rather
    than vanishing from the output. The reference has no text-dedup
    machinery; this extends the engine's LLM-pipeline dedup family
    (minhash/simhash/ngram-jaccard/exact-hash).
    """
    from rsgislib_spark.qcommon import widen

    alldocs = _doc_token_base(widen(df), text_col, [id_col])
    base = alldocs.filter(F.col("n_tok") >= n)
    spans = base.select(id_col, F.explode(_span_grams_expr(n)).alias("gram"))
    # per feeds BOTH the doc-frequency branch and the flag-join branch —
    # materialize once (localCheckpoint, auto-reclaimed on GC) so the
    # span explode + first shuffle run a single time, not per branch
    per = (
        spans.groupBy("gram", id_col)
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    dup_grams = (
        per.groupBy("gram")
        .agg(F.count("*").alias("gdoc"))
        .filter(F.col("gdoc") >= min_docs)
        .select("gram")
    )
    docdup = (
        per.join(dup_grams, "gram")
        .groupBy(id_col)
        .agg(F.sum("c").alias("n_dup_spans"))
    )
    tot = alldocs.select(
        id_col, F.greatest(F.col("n_tok") - (n - 1), F.lit(0)).alias("n_spans")
    )
    return (
        tot.join(docdup, id_col, "left")
        .fillna({"n_dup_spans": 0})
        .select(
            id_col,
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
            F.when(F.col("n_spans") > 0, F.round(F.col("n_dup_spans") / F.col("n_spans"), 6))
            .otherwise(F.lit(0.0))
            .alias("dup_ratio"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring SCRUB — the removal half of Lee et al. 2022:
    every token covered by any duplicated ``n``-token span (one carried
    by >= ``min_docs`` distinct documents) is dropped from the document;
    overlapping spans union naturally because removal is decided per
    token position. Emits (id, n_tok, n_kept, n_removed, kept_md5)
    where kept_md5 fingerprints the scrubbed text (md5 is identical
    across engines, so the oracle reproduces it byte-for-byte).

    Scale shape: the span explode + (gram, doc) aggregate + cross-doc
    frequency filter are the q123 pipeline (two co-keyed map-side
    combined shuffles); duplicated span START positions then come back
    to their documents as one collect_list groupBy [shuffle on doc] and
    the per-token coverage test runs as a Catalyst array expression —
    O(|starts|·n_tok) per row with bounded-length documents, zero
    Python. Token positions are 1-based. Docs shorter than ``n`` tokens
    can carry no span: they pass through unchanged (n_kept = n_tok,
    n_removed = 0) instead of vanishing from the scrubbed corpus.
    """
    from rsgislib_spark.qcommon import widen

    alldocs = _doc_token_base(widen(df), text_col, [id_col])
    base = alldocs.filter(F.col("n_tok") >= n)
    # spans feeds BOTH the cross-doc frequency branch and the start-
    # position collect — materialize the explode once (localCheckpoint,
    # the repo's ngram_jaccard/minhash precedent) instead of running the
    # md5 window explode per branch
    spans = (
        base.select(
            id_col,
            F.posexplode(_span_grams_expr(n)).alias("pos0", "gram"),
        )
        .select(id_col, (F.col("pos0") + 1).alias("start"), "gram")
        .localCheckpoint(eager=True)
    )
    dup_grams = (
        spans.groupBy("gram")
        .agg(F.count_distinct(id_col).alias("gdoc"))
        .filter(F.col("gdoc") >= min_docs)
        .select("gram")
    )
    starts = (
        spans.join(dup_grams, "gram")
        .groupBy(id_col)
        .agg(F.collect_list("start").alias("starts"))
    )
    span_w = F.lit(n - 1)
    covered = lambda p: F.exists(  # noqa: E731 — tiny local predicate
        F.col("starts"), lambda s: (p >= s) & (p <= s + span_w)
    )
    out = (
        alldocs.join(starts, id_col, "left")
        .withColumn("starts", F.coalesce("starts", F.array()))
        .withColumn(
            "kept",
            F.filter(
                "t", lambda x, i: ~covered(i + 1)  # filter index is 0-based
            ),
        )
    )
    return out.select(
        id_col,
        F.col("n_tok").cast("long").alias("n_tok"),
        F.size("kept").cast("long").alias("n_kept"),
        (F.col("n_tok") - F.size("kept")).cast("long").alias("n_removed"),
        F.md5(F.concat_ws(" ", "kept")).alias("kept_md5"),
    )


def decontaminate(
    df: DataFrame,
    probes: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_text_col: str = "text",
) -> DataFrame:
    """N-gram decontamination of a training corpus against an
    evaluation/benchmark set (the GPT-3/PaLM-style n-gram overlap
    filter): a training document is CONTAMINATED when any sliding
    ``n``-token span of it also occurs in any probe document. Emits
    (id, n_spans, n_hits, is_contaminated).

    Scale shape: probe grams are DISTINCT md5 keys of a small eval set —
    broadcast to every executor, so the corpus side streams through a
    broadcast-hash semi join with ZERO shuffle of span rows; the only
    shuffle is the per-doc rollup of (doc, hit) counts, map-side
    combined. Same md5 span keys as duplicated_span_stats, so the
    DuckDB oracle joins on identical values. Corpus docs shorter than
    ``n`` tokens hold no span — they are reported clean (0 spans,
    0 hits), not dropped from the contamination report.
    """
    from rsgislib_spark.qcommon import widen

    gram_expr = F.explode(_span_grams_expr(n)).alias("gram")
    pbase = _doc_token_base(probes, probe_text_col, []).filter(F.col("n_tok") >= n)
    probe_grams = pbase.select(gram_expr).distinct()
    alldocs = _doc_token_base(widen(df), text_col, [id_col])
    spans = alldocs.filter(F.col("n_tok") >= n).select(id_col, gram_expr)
    hits = (
        spans.join(F.broadcast(probe_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    tot = alldocs.select(
        id_col, F.greatest(F.col("n_tok") - (n - 1), F.lit(0)).alias("n_spans")
    )
    return (
        tot.join(hits, id_col, "left")
        .fillna({"n_hits": 0})
        .select(
            id_col,
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("n_hits").cast("long").alias("n_hits"),
            (F.col("n_hits") > 0).alias("is_contaminated"),
        )
    )
