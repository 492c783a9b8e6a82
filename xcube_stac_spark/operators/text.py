"""Text/document operators for large-scale training-data pipelines.

Beyond the reference's own operator set (it processes rasters, not text),
a 100 TB image+caption corpus needs caption/document hygiene: exact and
near deduplication, language ID, quality scoring, token counting and
fingerprinting. Everything here is pure ``pyspark.sql.functions`` —
JVM-side, codegen'd, zero Python in the hot path — and designed so every
operator has an EXACT DuckDB-SQL oracle (same md5-derived hashes, same
regexes, same tie-breaks).

Scale notes: all shuffles key on bounded-cardinality values (hash prefixes,
band signatures, shingles filtered to rare ones); the self-joins are
candidate-pair joins after LSH banding — the standard way to keep near-dup
detection at O(candidates), not O(n²), on 10^12 docs. AQE skew handling
covers hot shingles; the ``max_gram_freq`` filter bounds them analytically.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared hash gadgets (mirrored 1:1 in oracle SQL)
# ---------------------------------------------------------------------------


def _h32(col: Column) -> Column:
    """Deterministic 32-bit int from a string via md5 prefix — identical in
    DuckDB as ('0x' || substr(md5(x),1,8))::bigint."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _h60(col: Column) -> Column:
    """60-bit variant (15 hex chars) — fits signed int64 in both engines."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def tokens_col(text: Column) -> Column:
    return F.split(F.lower(text), " ")


def ngrams_of_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-grams from an ALREADY-PROJECTED token-array column. When
    ``toks`` is a bound attribute the lambda reads the row value (O(tokens)
    total); pass a pre-projected column in any per-corpus path."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    empty = F.array().cast("array<string>")
    return F.when(F.size(toks) >= n, grams).otherwise(empty)


def parallelize_scan(
    df: DataFrame, min_parts: int | None = None, key: str = "doc_id"
) -> DataFrame:
    """Hash-repartition ONLY when the planned scan parallelism is below the
    session default — the single-row-group small-file case, where every
    downstream narrow expression (gram transforms, md5, regex) would
    otherwise run on ONE core (guide §2.5 input skew: "one huge
    unsplittable file... repartition immediately after the read"). A real
    corpus scan arrives with >= cores splits and this is a NO-OP (no
    shuffle, no plan change); the probe itself plans the query but runs no
    job. Keyed on ``key`` (deterministic, balanced) rather than round-robin
    so no sort-before-repartition is paid and task retries are safe."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(key))
    return df


def _gram_rows(docs: DataFrame, ngram: int) -> DataFrame:
    """(doc_id, gram) distinct-per-doc gram rows with the tokenization
    projected ONCE per row (the shared first stage of every gram-based
    dedup operator).

    The gram-array expression stays INLINE in the explode on purpose: if it
    is projected to a column first, ``InferFiltersFromGenerate`` sees an
    attribute child, infers ``size(g) > 0 AND isnotnull(g)``, and filter
    pushdown substitutes the whole transform — with the tokenizing split
    re-inlined per element_at — into an interpreted per-row Filter at the
    scan: O(tokens²) per doc (measured 1.8 s -> 11.9 s at sf0.1). The rule
    skips non-attribute explode children, so the inline form is immune."""
    return docs.select("doc_id", tokens_col(F.col("text")).alias("toks")).select(
        "doc_id",
        F.explode(F.array_distinct(ngrams_of_tokens(F.col("toks"), ngram))).alias("gram"),
    )


def _doc_gram_arrays(docs: DataFrame, ngram: int) -> DataFrame:
    """(doc_id, grams) with the DISTINCT gram ARRAY per doc — the narrow
    (zero-shuffle, zero-explode) form of the gram table. Tokens are
    projected in their own step so Catalyst does not inline the split into
    the transform lambda, where it would re-run per element (O(tokens²)).
    NEVER put a filter or explode directly on the ``grams`` attribute — see
    the _gram_rows docstring for the filter-substitution trap; filter on
    ``size(toks)`` upstream instead."""
    return docs.select("doc_id", tokens_col(F.col("text")).alias("toks")).select(
        "doc_id",
        F.array_distinct(ngrams_of_tokens(F.col("toks"), ngram)).alias("grams"),
    )


def _doc_gram_sizes(docs: DataFrame, ngram: int) -> DataFrame:
    """(doc_id, n_grams) per-doc DISTINCT gram counts, computed narrowly as
    ``size(grams)`` — value-identical to ``count(*)`` over the exploded
    distinct gram rows, but with NO shuffle (guide §2.4: the groupBy this
    replaces was a full exchange of the gram table). Docs with zero grams
    get a 0 row here instead of being absent; all consumers inner-join on
    docs that share at least one gram, so the results are unchanged."""
    return _doc_gram_arrays(docs, ngram).select(
        "doc_id", F.size("grams").alias("n_grams")
    )


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5(text): representative = min doc_id,
    group_size = cardinality. The 100 TB pattern: one shuffle on a 128-bit
    hash — perfectly balanced keys."""
    return (
        docs.select(F.col("doc_id"), F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("representative"),
            F.count("*").alias("group_size"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding near-dup
# ---------------------------------------------------------------------------

N_HASHES = 16
N_BANDS = 4  # 4 rows per band


#: Mersenne prime for the (a·h + b) mod p minhash family — the textbook
#: universal-hash construction (MMDS ch.3): one BASE 32-bit md5 hash per
#: gram, then N_HASHES cheap affine mixes, instead of N_HASHES digests.
_MH_PRIME = (1 << 61) - 1


def _mh_params(n: int) -> list[tuple[int, int]]:
    """Deterministic per-seed (a, b): a odd < 2^30, b < 2^60, both derived
    from md5 of the seed index so Spark and the DuckDB oracle share the
    exact literals. Bounds keep a*h + b < 2^63 for h < 2^32 (no signed-64
    overflow in either engine)."""
    import hashlib

    out = []
    for s in range(n):
        d = hashlib.md5(f"mh-{s}".encode()).hexdigest()
        out.append(((int(d[:8], 16) % (1 << 30)) | 1, int(d[8:23], 16)))
    return out


def minhash_signatures(docs: DataFrame, ngram: int = 3) -> DataFrame:
    """(doc_id, m0..m{N_HASHES-1}): per-seed minhash columns — min over the
    doc's distinct word-ngrams of (a_seed * h32(gram) + b_seed) mod p.

    Computed NARROWLY (r7, guide §2.4): the per-gram base hashes are a
    per-row ``transform`` over the doc's gram array projected once, and
    each seed's minhash is an ``array_min`` over an affine mix of that
    array — ZERO shuffle and zero row explosion, where the r6 shape
    exploded the gram table and paid a full exchange for N_HASHES static
    min-aggregates (and r01 exploded ×16 seeds, 18 s / 5k docs). Digest
    work stays ONE md5 per gram (the ``hs`` projection is its own step so
    Catalyst does not inline it 16×; per-seed hashes are affine mixes over
    the Mersenne prime 2^61-1 — the standard universal minhash family,
    identical literals mirrored into the DuckDB oracle). Docs with no
    grams are filtered exactly as the exploded shape dropped them."""
    # the no-gram filter runs on size(toks) — equivalent to the exploded
    # shape's membership (grams nonempty ⟺ tokens >= ngram) and CHEAP when
    # pushdown inlines it at the scan, unlike a filter on the grams
    # attribute (the substitution trap, see _gram_rows)
    hashed = (
        parallelize_scan(docs)
        .select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .where(F.size("toks") >= ngram)
        .select(
            "doc_id",
            F.array_distinct(ngrams_of_tokens(F.col("toks"), ngram)).alias("grams"),
        )
        .select(
            "doc_id",
            F.transform(F.col("grams"), lambda g: _h32(g)).alias("hs"),
        )
    )
    cols = [
        F.array_min(
            F.transform(
                F.col("hs"), lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MH_PRIME)
            )
        ).alias(f"m{seed}")
        for seed, (a, b) in enumerate(_mh_params(N_HASHES))
    ]
    return hashed.select("doc_id", *cols)


def lsh_band_buckets(signatures: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig): md5 over the band's minhashes in seed order
    — the LSH bucket key. Pure column expressions over the wide signature
    row; the ×N_BANDS explode happens on the tiny signature table, not the
    gram table."""
    rows_per_band = N_HASHES // N_BANDS
    structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{b * rows_per_band + i}").cast("string")
                        for i in range(rows_per_band)
                    ],
                )
            ).alias("band_sig"),
        )
        for b in range(N_BANDS)
    ]
    return signatures.select(
        "doc_id", F.explode(F.array(*structs)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_sig").alias("band_sig"))


def minhash_candidates(docs: DataFrame, ngram: int = 3) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ANY band bucket (doc_a<doc_b).
    This is the bucket-equi-join that replaces the O(n²) all-pairs scan.

    The SHUFFLE_HASH hint matters (guide §3.1/§2.4): left to size
    estimates the planner BROADCASTS one side of the self-join, which (a)
    computes the whole signature pipeline twice — the two sides are the
    same subplan, and only symmetric shuffle exchanges get deduplicated by
    ReuseExchange — and (b) collects the bucket table to the driver. With
    both sides shuffling on (band, band_sig) the signatures are computed
    ONCE (measured at sf1.0: 3.7 s -> 2.5 s) and nothing lands on the
    driver at any corpus size."""
    b = lsh_band_buckets(minhash_signatures(docs, ngram))
    a = b.alias("a")
    c = b.hint("shuffle_hash").alias("b")
    return (
        a.join(c, ["band", "band_sig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_near_dups(
    docs: DataFrame, ngram: int = 3, threshold: float = 0.5
) -> DataFrame:
    """MinHash+LSH near-dup pipeline end-to-end: band-bucket candidates,
    then EXACT n-gram Jaccard verification of just those pairs — the
    shape that stays linear at 10^12 docs (verification cost is
    O(candidates), and banding keeps candidates ≈ true near-dups)."""
    docs = parallelize_scan(docs)
    cand = minhash_candidates(docs, ngram)
    # verification via per-doc gram ARRAYS (r7, guide §2.3/§2.4): join the
    # candidate set twice against the narrow (doc_id, grams) table and take
    # size(array_intersect) — value-identical to the r6 shape (grams are
    # distinct per doc, so the intersection size IS the shared
    # distinct-gram count) but with no gram-row explosion and two joins
    # instead of four; n_grams comes from the same arrays for free. The
    # SHUFFLE_HASH hints stop the planner broadcasting the gram-array
    # tables (driver collect of the whole corpus' grams — fatal at scale,
    # slow at bench scale); a shuffle keyed on doc id moves each side once.
    g = _doc_gram_arrays(docs, ngram)
    ga = g.select(
        F.col("doc_id").alias("doc_a"),
        F.col("grams").alias("grams_a"),
        F.size("grams").alias("n_a"),
    )
    gb = g.select(
        F.col("doc_id").alias("doc_b"),
        F.col("grams").alias("grams_b"),
        F.size("grams").alias("n_b"),
    )
    n_common = F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b")))
    return (
        cand.join(ga.hint("shuffle_hash"), "doc_a")
        .join(gb.hint("shuffle_hash"), "doc_b")
        .withColumn("n_common", n_common)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def resolve_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", max_iter: int = 30
) -> DataFrame:
    """Resolve near-dup PAIRS into clusters — the step between candidate
    generation (minhash/simhash/ANN pair ops) and actual deduplication:
    connected components over the pair graph, one canonical doc (the
    min id) per component. Returns one row per doc appearing in any pair:
    ``(doc_id, canonical_id, cluster_size, is_canonical)`` — keep rows
    where ``is_canonical`` (or anti-join the rest) to dedup the corpus.

    Algorithm: iterative min-label propagation WITH pointer jumping
    (``label <- min(label, label(label))``), the path-halving trick of the
    large-star/small-star family — rounds scale O(log diameter), not
    O(diameter), so a pathological 10^6-doc near-dup chain converges in
    ~20 rounds instead of 10^6. Each round is two shuffle joins keyed on
    doc id; `localCheckpoint` truncates the lineage every round so the
    plan stays O(1)-deep at any round count (an unbounded iterative plan
    is a driver OOM at scale). Deterministic: the fixpoint (min id per
    component) is unique regardless of join order or parallelism.

    r7 job economy (guide §1.2/§2.4): the seed aggregation fuses the first
    propagation (label₀ = min(node, min neighbor) — one groupBy instead of
    a distinct plus a full round); checkpoints are LAZY so a round launches
    no job of its own; convergence is checked every 2nd round (labels only
    decrease, so a skipped check can never miss the fixpoint, it just runs
    ≤1 extra no-op round) by counting changed labels — a type-agnostic
    witness that works for string doc ids too (the r6 decimal label-sum
    crashed/NULLed on non-numeric ids under/without ANSI mode)."""
    # symmetrize in ONE pass over the pair pipeline: the r6
    # union(pairs, swapped) computed the (expensive) upstream pair plan
    # twice — a 2-element explode emits both directions per input row
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(a).alias("u"), F.col(b).alias("v")),
                    F.struct(F.col(b).alias("u"), F.col(a).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        # EAGER checkpoint, not persist: persist caches the data but keeps
        # the full upstream logical plan, and every round's lazy checkpoint
        # re-runs Catalyst over that whole tree (measured 0.8-6 s of DRIVER
        # planning per round at sf1.0); the checkpoint truncates the plan to
        # an RDD scan so each round plans in milliseconds
        .localCheckpoint()
    )
    # seed = round 0 fused into the node enumeration: every node appears as
    # ``u`` (edges are symmetric), so one aggregation yields both the node
    # set and min(node, min neighbor)
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("nmin"))
        .select(
            F.col("u").alias("node"), F.least(F.col("u"), F.col("nmin")).alias("label")
        )
        .localCheckpoint(eager=False)
    )
    converged = False
    for it in range(max_iter):
        nmin = (
            edges.join(
                labels.select(F.col("node").alias("v"), F.col("label").alias("vlab")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vlab").alias("nmin"))
            .select(F.col("u").alias("node"), "nmin")
        )
        prop = labels.join(nmin, "node", "left").select(
            "node",
            F.col("label").alias("prev"),
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                "label"
            ),
        )
        jumped = (
            prop.join(
                prop.select(
                    F.col("node").alias("label"), F.col("label").alias("llabel")
                ),
                "label",
                "left",
            )
            .select(
                "node",
                "prev",
                F.least(
                    F.col("label"), F.coalesce(F.col("llabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        labels = jumped
        if it % 2 == 0 or it == max_iter - 1:
            # materializes this round's (and any pending) lazy checkpoint
            if labels.where(F.col("label") != F.col("prev")).limit(1).count() == 0:
                converged = True
                break
    if not converged:
        logging.getLogger(__name__).warning(
            "resolve_components hit max_iter=%d before convergence", max_iter
        )
    labels = labels.drop("prev")
    # (edges is localCheckpoint-backed; its blocks are released by the
    # ContextCleaner when the RDD goes out of scope — no unpersist API)
    w = Window.partitionBy("canonical_id")
    return (
        labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("canonical_id")
        )
        .withColumn("cluster_size", F.count("*").over(w))
        .withColumn("is_canonical", F.col("doc_id") == F.col("canonical_id"))
    )


def repetition_metrics(docs: DataFrame, ngram: int = 3) -> DataFrame:
    """Per-document repetition metrics — the Gopher-style repetition
    filters that catch degenerate/looping text which length- and
    stopword-based quality scores miss: ``dup_word_frac`` (1 − distinct
    words / words), ``top_word_frac`` (most frequent word's share), and
    ``dup_ngram_frac`` (1 − distinct n-grams / n-grams). A pipeline drops
    docs above thresholds (e.g. top_word_frac > 0.2, dup_ngram_frac > 0.3).

    Pure narrow Column expressions over the per-row token array — no
    shuffle, no UDF, whole-stage codegen; the top-word count is an
    array_max over per-distinct-word filters (O(distinct·total) per row,
    bounded by document length, never by corpus size)."""
    toks = tokens_col(F.col("text"))
    d = docs.select("doc_id", toks.alias("t"))
    uniq = F.array_distinct(F.col("t"))
    top_c = F.array_max(
        F.transform(uniq, lambda w: F.size(F.filter(F.col("t"), lambda x: x == w)))
    )
    grams = ngrams_of_tokens(F.col("t"), ngram)
    n_w, n_wd = F.size(F.col("t")), F.size(uniq)
    n_g, n_gd = F.size(grams), F.size(F.array_distinct(grams))
    return d.select(
        "doc_id",
        F.round(F.lit(1.0) - n_wd / n_w, 6).alias("dup_word_frac"),
        F.round(top_c / n_w, 6).alias("top_word_frac"),
        F.when(n_g > 0, F.round(F.lit(1.0) - n_gd / n_g, 6))
        .otherwise(F.lit(0.0))
        .alias("dup_ngram_frac"),
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    ngram: int = 3,
    broadcast: bool = True,
) -> DataFrame:
    """Benchmark decontamination — the eval-leakage filter every serious
    training-data pipeline runs (the GPT-3/PaLM 13-gram check, here over
    word n-grams): flag every training doc sharing at least one n-gram
    with any doc of an evaluation set. ``eval_docs`` needs columns
    ``(eval_id, text)``. Returns one row per contaminated (doc, eval doc)
    pair: ``(doc_id, eval_id, n_shared_grams, contam_frac)`` where
    ``contam_frac`` = shared / doc's distinct gram count — anti-join
    ``doc_id`` against this to scrub the corpus.

    Scale shape: the eval set is tiny next to a 100 TB corpus (thousands
    of benchmark items vs billions of docs), so its distinct gram table is
    BROADCAST — the corpus-side gram stream is filtered map-side with NO
    shuffle of corpus grams at all; the only shuffle is the per-(doc,eval)
    count over the (rare) surviving matches. Set ``broadcast=False`` only
    if the eval gram table outgrows executor memory (then it's a plain
    bucketed equi-join, still linear). Unlike the near-dup family there is
    no candidate blow-up: fan-out is bounded by eval-set size."""
    docs = parallelize_scan(docs)
    dg = _gram_rows(docs, ngram)
    eg = _gram_rows(
        eval_docs.select(F.col("eval_id").alias("doc_id"), "text"), ngram
    ).select(F.col("doc_id").alias("eval_id"), "gram")
    if broadcast:
        eg = F.broadcast(eg)
    # narrow per-doc sizes (guide §2.4): the r6 shape shuffled the FULL
    # corpus gram table just to count per-doc grams — the one corpus-gram
    # exchange this operator's scale story says must not exist
    sizes = _doc_gram_sizes(docs, ngram)
    hits = (
        dg.join(eg, "gram")
        .groupBy("doc_id", "eval_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "eval_id",
        "n_shared_grams",
        F.round(F.col("n_shared_grams") / F.col("n_grams"), 6).alias("contam_frac"),
    )


#: default document-frequency bound for ngram_jaccard_pairs: a gram shared by
#: k docs emits k(k-1)/2 candidate pairs, so one hot shingle ("click here to")
#: in 10^6 docs would alone produce 5*10^11 pairs — the bound caps per-gram
#: fan-out at DEFAULT_MAX_GRAM_FREQ², keeping the self-join O(docs · grams).
DEFAULT_MAX_GRAM_FREQ = 64


def ngram_jaccard_pairs(
    docs: DataFrame,
    ngram: int = 3,
    threshold: float = 0.5,
    max_gram_freq: int | None = DEFAULT_MAX_GRAM_FREQ,
    log_dropped: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing at least one (rare) gram.

    ``max_gram_freq`` (default ``DEFAULT_MAX_GRAM_FREQ``) drops grams whose
    document frequency exceeds the bound before pairing — the standard
    hot-key cap that keeps the self-join linear-ish at corpus scale. Pass
    ``None`` to disable (exact but quadratic in the hottest gram's df).

    ``log_dropped=True`` eagerly counts the dropped grams and emits a
    WARNING log line (costs one extra aggregation job — off by default so
    the builder stays lazy; production pipelines run it once per corpus).

    NOTE: dropping hot grams makes both n_common AND the implied candidate
    set ignore those grams; Jaccard is computed over the FULL gram sets
    (sizes are taken before the filter), so reported similarity is a lower
    bound for pairs that shared a hot gram."""
    docs = parallelize_scan(docs)
    grams = _gram_rows(docs, ngram)
    # narrow per-doc sizes (guide §2.4): size(distinct gram array) replaces
    # a full shuffle of the gram table; value-identical (see _doc_gram_sizes)
    sizes = _doc_gram_sizes(docs, ngram)
    if max_gram_freq is not None:
        # (doc_id, gram) rows are distinct per doc by construction, so the
        # plain count IS the document frequency — count(*) keeps the
        # partial (map-side) aggregation that the distinct-agg shape lost
        freq = grams.groupBy("gram").agg(F.count("*").alias("df"))
        if log_dropped:
            n_hot = freq.where(F.col("df") > max_gram_freq).count()
            if n_hot:
                logging.getLogger(__name__).warning(
                    "ngram_jaccard_pairs: dropping %d hot gram(s) with "
                    "document frequency > %d before pairing",
                    n_hot, max_gram_freq,
                )
        rare = freq.where(F.col("df") <= max_gram_freq).select("gram")
        grams = grams.join(rare, "gram")
    g1 = grams.alias("g1")
    g2 = grams.alias("g2")
    inter = (
        g1.join(g2, "gram")
        .where(F.col("g1.doc_id") < F.col("g2.doc_id"))
        .groupBy(F.col("g1.doc_id").alias("doc_a"), F.col("g2.doc_id").alias("doc_b"))
        # each shared gram contributes exactly one row (grams are distinct
        # per doc), so count(*) == countDistinct(gram) — and count(*) keeps
        # map-side partial aggregation where the distinct agg re-shuffled
        # the full (pair, gram) stream (guide §2.3)
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sa.n_grams") + F.col("sb.n_grams") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60


def simhash(docs: DataFrame) -> DataFrame:
    """60-bit SimHash over distinct tokens (weight 1 each): bit b is set iff
    more token-hashes have bit b set than not. Built as 60 static aggregate
    expressions — no row explosion, one shuffle on doc_id."""
    toks = parallelize_scan(docs).select(
        "doc_id", F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("tok")
    ).withColumn("h", _h60(F.col("tok")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(*aggs)
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long") * (1 << b)).otherwise(0)
        sim = term if sim is None else sim + term
    return per_doc.select("doc_id", sim.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 12) -> DataFrame:
    """Near-dup pairs by SimHash: band the 60 bits into 4×15-bit keys, join
    on any equal band (pigeonhole: hamming ≤ 3 guarantees a hit; larger
    radii are heuristic), verify with exact popcount."""
    sh = simhash(docs)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.shiftright(F.col("simhash"), 15 * k)
                        .bitwiseAND(F.lit((1 << 15) - 1))
                        .alias("key"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.alias("a")
    # same self-join economics as minhash_candidates: force the symmetric
    # shuffle so the simhash pipeline is computed once (ReuseExchange), not
    # broadcast-collected and recomputed
    b = banded.hint("shuffle_hash").alias("b")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# language ID / quality / tokens / fingerprint
# ---------------------------------------------------------------------------

STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du", "que", "pour"],
    "es": ["el", "la", "los", "y", "de", "que", "en", "un", "por", "con"],
}
LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie-break priority


def _stop_hits(text: Column, lang: str) -> Column:
    toks = tokens_col(text)
    arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_id(docs: DataFrame) -> DataFrame:
    """N-gram/stopword-heuristic language ID: argmax of per-language
    stopword hit counts, ties broken by LANG_ORDER, 'und' when all zero.
    The token array is projected once and shared by all four language
    scorers (same values as per-language tokenization, 1/4 the splits)."""
    def contains(a):
        return lambda t: F.array_contains(a, t)

    df = docs.withColumn("_toks", tokens_col(F.col("text")))
    for lang in LANG_ORDER:
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        df = df.withColumn(
            f"score_{lang}", F.size(F.filter(F.col("_toks"), contains(arr)))
        )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_ORDER])
    pred = F.lit("und")
    for lang in reversed(LANG_ORDER):
        pred = F.when(
            (best > 0) & (F.col(f"score_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return df.select(
        "doc_id",
        pred.alias("lang_pred"),
        best.alias("score"),
        *[F.col(f"score_{lang}") for lang in LANG_ORDER],
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality heuristic ∈ [0, 1]."""
    text = F.col("text")
    toks = tokens_col(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    punct = n_chars - F.length(F.regexp_replace(text, r"[^a-zA-Z0-9 ]", ""))
    stop = _stop_hits(text, "en")
    stop_ratio = stop / F.greatest(n_tokens, F.lit(1))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    length_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    score = F.round(
        length_score * 0.4 + stop_ratio * 0.4 + (1.0 - punct_ratio) * 0.2, 6
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        score.alias("quality"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + BPE-ish regex pieces (letters / digits / other
    symbols split apart) — the cheap proxy for LLM token budgeting."""
    text = F.col("text")
    ws = F.size(F.split(text, r"\s+"))
    bpe = F.size(F.regexp_extract_all(F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))
    return docs.select(
        "doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_tokens")
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 512,
    shards: int = 64,
) -> DataFrame:
    """Pack tokenized documents into fixed-length training sequences by
    deterministic greedy first-fit-decreasing (FFD) — the classic
    packed-pretraining-batch builder. Returns one row per sequence:
    ``(seq_id, doc_ids, n_docs, n_tokens, fill_ratio)``.

    Semantics (pinned by test + driver oracle):
      - token budget per doc = ``least(bpe_tokens, seq_len)`` (oversized
        docs are truncated to one full sequence, the standard pretraining
        rule); zero-token docs are dropped;
      - every surviving doc lands in EXACTLY one sequence (conservation:
        ``sum(n_tokens)`` over sequences == sum of per-doc budgets);
      - no sequence exceeds ``seq_len``;
      - fully deterministic at fixed ``(seq_len, shards)``: docs shard by
        ``xxhash64(doc_id) mod shards`` (independent of input
        partitioning/parallelism), each shard packs its docs in
        ``(-tokens, doc_id)`` order, and ``seq_id = shard * 2^40 +
        local_index``.

    Scale design: the packing decisions see ONLY ``(doc_id, token_count)``
    pairs — document content never enters the shuffle, so the stage moves
    ~16 bytes/doc regardless of corpus bytes. The per-shard FFD runs in one
    bounded ``applyInPandas`` group; pick ``shards`` so n_docs/shards fits
    comfortably in a task (10^6 id+count pairs ≈ tens of MB). Sharded FFD
    is FFD per shard — the fill-ratio loss vs global FFD is the tail bin of
    each shard, ≤ shards/n_seqs of capacity, negligible at corpus scale.
    """
    id_dt = docs.schema["doc_id"].dataType.simpleString()
    tc = (
        token_counts(parallelize_scan(docs))
        .select(
            "doc_id",
            F.least(F.col("bpe_tokens"), F.lit(seq_len)).cast("int").alias("tokens"),
        )
        .where(F.col("tokens") > 0)
        .withColumn(
            "shard", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(shards)).cast("int")
        )
    )
    out_schema = (
        f"seq_id bigint, doc_ids array<{id_dt}>, n_docs int, "
        "n_tokens int, fill_ratio double"
    )

    def _pack(pdf):
        import pandas as pd

        shard = int(pdf["shard"].iloc[0])
        items = sorted(
            zip(pdf["doc_id"].tolist(), pdf["tokens"].tolist()),
            key=lambda it: (-it[1], it[0]),
        )
        # capacity-indexed first-fit (r7): a max-segment-tree over bins in
        # CREATION order finds the leftmost bin with remaining capacity
        # >= tok in O(log bins) — placement-identical to the linear
        # first-fit scan it replaces (leftmost-fitting bin either way,
        # pinned by test_pack_ffd_segment_tree_matches_linear_scan), but
        # O(n log n) per shard instead of O(n·bins) (adversarial
        # ~seq_len/2-sized docs made the scan quadratic).
        size = 1
        while size < max(len(items), 1):
            size <<= 1
        tree = [-1] * (2 * size)  # max remaining capacity per subtree
        bins: list[list] = []  # [tokens_used, [doc_ids]]
        for doc_id, tok in items:
            if tree[1] >= tok:  # some open bin fits: walk to the leftmost
                node = 1
                while node < size:
                    node = 2 * node if tree[2 * node] >= tok else 2 * node + 1
                bi = node - size
                bins[bi][0] += tok
                bins[bi][1].append(doc_id)
                rem = seq_len - bins[bi][0]
            else:  # open a new bin at the next leaf
                bi = len(bins)
                bins.append([tok, [doc_id]])
                node = size + bi
                rem = seq_len - tok
            tree[node] = rem
            node >>= 1
            while node:
                tree[node] = max(tree[2 * node], tree[2 * node + 1])
                node >>= 1
        return pd.DataFrame(
            {
                "seq_id": [(shard << 40) + i for i in range(len(bins))],
                "doc_ids": [b[1] for b in bins],
                "n_docs": [len(b[1]) for b in bins],
                "n_tokens": [b[0] for b in bins],
                "fill_ratio": [round(b[0] / seq_len, 6) for b in bins],
            }
        )

    return (
        tc.repartition(shards, "shard")
        .groupBy("shard")
        .applyInPandas(_pack, out_schema)
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Normalized-content digest: lowercase, strip non-alphanumerics to
    single spaces, trim, md5 — robust to whitespace/punct-only edits."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " "))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))
