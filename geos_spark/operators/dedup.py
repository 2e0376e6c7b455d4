"""Deduplication operators for the training-data pipeline tier.

- exact_dedup: hash-groupBy on content hash (native).
- minhash_lsh: shingle -> minhash signature -> LSH band buckets ->
  candidate pairs -> exact Jaccard verify. Hashing uses md5-derived
  integers so an external SQL oracle reproduces signatures exactly.
- simhash: 64-bit simhash from token md5s (native bit ops).
- ngram_jaccard: exact n-gram Jaccard for candidate pairs.

Scale notes: every stage is a narrow projection or an equijoin on a
band/bucket key; the explode fan-out is bounded by tokens-per-doc and
the band count. Hot buckets (boilerplate shingles) are capped with a
per-bucket count filter, the standard LSH guard at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# large Mersenne-ish primes for affine rehash (fit comfortably in i64)
_MINHASH_A = 1103515245
_MINHASH_P = 2147483647  # 2^31 - 1


def _materialize(df: DataFrame) -> DataFrame:
    """Cut lineage AND stop recomputation for a DataFrame consumed by
    several downstream plans (same contract as cluster._materialize):
    without this each consumer re-runs the full upstream plan — the
    multi-consumer recomputation trap."""
    try:
        return df.localCheckpoint(eager=True)
    except Exception:  # noqa: BLE001 - e.g. checkpointing disabled
        df = df.cache()
        df.count()
        return df


def md5_i64(c: Column) -> Column:
    """First 8 hex digits of md5 as an integer (portable to any SQL)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-hash groups: (fingerprint, n_dups, keeper_id)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined token windows).

    NULL or whitespace-only text has no tokens and yields an EMPTY
    array (not ``['']``: concat_ws never returns NULL and greatest
    ignores NULLs, so without the guard a token-less doc would hash
    an empty shingle and every such doc would collide into one
    dedup bucket). Downstream explode_outer then emits the row with
    a NULL shingle, and minhash/simhash surface NULL signatures.
    """
    toks = F.split(F.trim(text), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    # try_element_at: a doc shorter than k words yields one shingle of
    # the words it has (ANSI element_at would abort the whole job)
    return F.when(
        text.isNull() | (F.trim(text) == ""),
        F.array().cast("array<string>"),
    ).otherwise(
        F.array_distinct(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.try_element_at(toks, i + j) for j in range(k)]
                ),
            )
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, sig: array<long>) — minhash signature per document.

    hash_j(shingle) = (a_j * h + b_j) mod p with h = md5_i64(shingle);
    signature element j = min over shingles.

    Explodes the distinct shingle set and computes the md5 base hash
    ONCE per (doc, shingle) row, then takes all ``num_hashes`` minima
    in one aggregation (a single shuffle, all JVM).  Putting the
    per-j ``array_min(transform(...))`` expressions side by side in a
    projection instead re-evaluates the shingle+md5 array per j
    (Catalyst does not CSE across them) — ~num_hashes× the hashing
    work.  explode_outer keeps NULL-text docs (their sig elements are
    NULL, matching the expression form).
    """
    e = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(word_shingles(F.col(text_col), shingle_k)).alias(
            "__s"
        ),
    ).select("id", md5_i64(F.col("__s")).alias("__h"))
    mins = [
        F.min(
            (
                F.col("__h") * F.lit(_MINHASH_A * (j + 1) % _MINHASH_P)
                + F.lit(j * 12345 + 1)
            )
            % F.lit(_MINHASH_P)
        ).alias(f"__h{j}")
        for j in range(num_hashes)
    ]
    return (
        e.groupBy("id")
        .agg(*mins)
        .select(
            "id",
            F.array(
                *[F.col(f"__h{j}") for j in range(num_hashes)]
            ).alias("sig"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded LSH.

    Pairs sharing at least one band bucket; hot buckets larger than
    ``max_bucket`` are dropped (boilerplate guard — logged upstream).
    """
    rows = num_hashes // bands
    # token-less docs carry NULL signatures (word_shingles contract);
    # concat_ws would fold them all into one "" bucket and emit every
    # empty-doc pair as a candidate — exclude them up front
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k
    ).where(F.element_at(F.col("sig"), 1).isNotNull())
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.element_at(F.col("sig"), b * rows + r + 1)
                                for r in range(rows)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    # one shuffle: gather each bucket's ids, drop hot buckets (the
    # boilerplate guard, applied on the gathered size — no separate
    # count+join pass recomputing the minhash chain), then explode
    # the per-bucket pairs locally.  Pair fan-out is bounded by
    # max_bucket^2/2 per bucket; a self-join instead would shuffle
    # the banded table twice more.
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("ids"))
        .where(
            (F.size("ids") >= 2) & (F.size("ids") <= max_bucket)
        )
        .select(F.array_sort("ids").alias("ids"))
    )
    n = F.size("ids")
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), n - i - F.lit(1)),
                lambda y: F.struct(
                    x.alias("id_a"), y.alias("id_b")
                ),
            ),
        )
    )
    pairs = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard verify of candidate pairs: returns
    (id_a, id_b, jaccard) for pairs >= threshold."""
    sh = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    )
    j = (
        candidates.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        )
        .withColumn(
            "uni", F.size(F.array_union("sh_a", "sh_b")).cast("double")
        )
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return j


def _simhash_combine(votes: list[Column]) -> Column:
    """64 vote columns -> the signed 64-bit simhash value."""
    bits = []
    for b in range(64):
        vote = votes[b]
        bits.append(
            F.when(vote > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            * F.lit(1 << b).cast("long")
            if b < 63
            # avoid 1<<63 overflow in a positive long literal
            else F.when(vote > 0, F.lit(-(1 << 63)).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for x in bits[1:]:
        out = out + x
    return out


def simhash64_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 2,
    out_col: str = "simhash",
) -> DataFrame:
    """(id_col, simhash) — single-pass distributed simhash.

    Explodes the distinct shingle set, computes both md5 halves ONCE
    per shingle row, then takes the 64 bit votes as one conditional
    aggregation (one shuffle, all JVM). The Column-expression variant
    below re-evaluates the shingle-hash array inside each of the 64
    per-bit aggregates (Catalyst does not CSE across aggregate
    expressions), which is ~64x the hashing work — never use it in a
    hot path.
    """
    sh = word_shingles(F.col(text_col), shingle_k)
    # explode_outer: a NULL-text / no-shingle doc keeps its row (with a
    # NULL shingle) and comes out with a NULL simhash — same per-row
    # contract as minhash_signatures, instead of silently vanishing.
    e = df.select(
        F.col(id_col).alias("__id"), F.explode_outer(sh).alias("__s")
    ).select(
        "__id",
        F.conv(F.substring(F.md5("__s"), 1, 8), 16, 10)
        .cast("long")
        .alias("__lo"),
        F.conv(F.substring(F.md5("__s"), 9, 8), 16, 10)
        .cast("long")
        .alias("__hi"),
    )
    votes = [
        F.sum(
            # the NULL guard keeps the all-NULL group's SUM at NULL
            # (CASE would route a NULL condition to the -1 branch);
            # explode_outer groups are all-NULL or all-non-NULL, so
            # real votes are never diluted
            F.when(F.col("__lo").isNull(), F.lit(None))
            .when(
                F.shiftright(
                    F.col("__lo" if b < 32 else "__hi"), b % 32
                ).bitwiseAND(F.lit(1))
                == 1,
                1,
            )
            .otherwise(-1)
        ).alias(f"__b{b}")
        for b in range(64)
    ]
    v = e.groupBy("__id").agg(*votes)
    return v.select(
        F.col("__id").alias(id_col),
        F.when(F.col("__b0").isNull(), F.lit(None).cast("long"))
        .otherwise(
            _simhash_combine([F.col(f"__b{b}") for b in range(64)])
        )
        .alias(out_col),
    )


def simhash64(text: Column, shingle_k: int = 2) -> Column:
    """64-bit simhash over word shingles (native bit arithmetic).

    For each of 64 bits: sum +/-1 per shingle by that bit of the
    shingle hash; bit set iff sum > 0. Uses two 32-bit md5-derived
    halves per shingle for the 64 bits.
    """
    sh = word_shingles(text, shingle_k)
    lo = F.transform(sh, lambda s: md5_i64(s))
    hi = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 9, 8), 16, 10).cast("long")
    )
    bits = []
    for b in range(64):
        src = lo if b < 32 else hi
        k = b % 32
        vote = F.aggregate(
            src,
            F.lit(0).cast("long"),
            lambda acc, v: acc
            + F.when(F.shiftright(v, k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        bits.append(
            F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
            * F.lit(1 << b).cast("long")
            if b < 63
            # avoid 1<<63 overflow in a positive long literal
            else F.when(vote > 0, F.lit(-(1 << 63)).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for x in bits[1:]:
        out = out + x
    return out


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """End-to-end near-duplicate clustering: the full training-data
    dedup pipeline as one operator.

    Stage 0 — **exact collapse**: group by md5(text), keep one
    representative (min id) per distinct text.  Web corpora are
    boilerplate-heavy; an exact-dup cluster of m identical docs
    would otherwise share every LSH band bucket and emit O(m^2)
    verified pairs (all with Jaccard 1.0), a quadratic explosion
    the hot-bucket cap cannot catch because the bucket is a
    *genuine* duplicate set.  Collapsing first makes the LSH input
    distinct-texts-only, so identical docs cost O(m), not O(m^2).

    Then over representatives only: minhash-LSH banded candidates
    (bucketed equijoin, hot buckets capped) -> exact n-gram Jaccard
    verify (>= ``threshold``) -> connected components over the
    verified pair graph (contraction union-find, the scale path) ->
    unfold back to all docs:

      (doc_id, canonical, csize, keep)

    ``canonical`` is the min doc id of the near-dup component
    (singletons map to themselves), ``csize`` the component size in
    DOCS (not representatives), ``keep`` true iff this doc is the
    component representative — a downstream pipeline keeps ``keep``
    rows and drops the rest.  The output is identical to running
    the pipeline without stage 0 (exact dups have Jaccard 1.0 and
    the representative is its exact group's min id, so min-label
    components and canonicals are unchanged) — stage 0 is purely
    the scale-safety rewrite.

    NULL-text docs have no content hash and no shingles: they stay
    singleton representatives of themselves.
    """
    from geos_spark.operators.cluster import connected_components

    # stage 0: exact collapse (NULL text -> own group via doc id)
    grp = F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("\x00null\x00"), F.col(id_col).cast("string")),
    )
    # doc2rep feeds the representative filter AND the label unfold;
    # reps feeds the LSH stage, BOTH sides of the Jaccard verify, and
    # the CC id table — materialize each once (the multi-consumer
    # recomputation trap: without this the md5 window and the text
    # scan re-run per consumer)
    doc2rep = _materialize(
        df.select(
            F.col(id_col).alias("id"), grp.alias("__grp")
        ).withColumn("rep", F.min("id").over(Window.partitionBy("__grp")))
    )
    reps = _materialize(
        df.select(F.col(id_col).alias("rep_id"), F.col(text_col))
        .join(
            doc2rep.where(F.col("id") == F.col("rep"))
            .select(F.col("rep").alias("rep_id")),
            "rep_id",
        )
    )

    cand = minhash_lsh_pairs(
        reps, text_col, "rep_id", num_hashes, bands, shingle_k,
        max_bucket,
    )
    verified = ngram_jaccard_pairs(
        reps, cand, text_col, "rep_id", shingle_k, threshold
    ).select("id_a", "id_b")
    rep_ids = reps.select(F.col("rep_id").alias("id"))
    rep_labels = connected_components(rep_ids, verified).select(
        F.col("id").alias("rep"), F.col("cluster").alias("canonical")
    )
    labels = _materialize(
        doc2rep.join(rep_labels, "rep").select("id", "canonical")
    )
    sizes = labels.groupBy("canonical").agg(
        F.count("*").alias("csize")
    )
    return (
        labels.join(sizes, "canonical")
        .select(
            F.col("id").alias(id_col),
            "canonical",
            F.col("csize").cast("long").alias("csize"),
            (F.col("id") == F.col("canonical")).alias("keep"),
        )
    )


def ngram_dup_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Substring-level duplication score (the Pile/GPT-3 dedup
    heuristic): per document, the fraction of its distinct n-word
    shingles that also occur in at least one other document. High
    ``dup_frac`` flags boilerplate-heavy or near-copied pages that
    whole-document dedup misses.

    Scale shape: shingles are counted by ``xxhash64`` so the wide
    strings never enter the frequency shuffle; the frequency table and
    the per-doc scoring join are both keyed on that hash, so the join
    reuses the aggregation's partitioning (one exchange per side, no
    broadcast needed — duplicated content is NOT small at crawl
    scale). Adds ``n_shingles``, ``n_dup`` and ``dup_frac``
    (null for token-less docs).
    """
    sh = df.select(
        F.col(id_col),
        F.explode_outer(word_shingles(F.col(text_col), n)).alias("sh"),
    ).where(F.col("sh").isNotNull())
    keyed = sh.select(id_col, F.xxhash64("sh").alias("h"))
    freq = keyed.groupBy("h").agg(
        F.count_distinct(F.col(id_col)).alias("docs")
    )
    scored = (
        keyed.join(freq, "h")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("docs") >= 2, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_dup"),
        )
    )
    return (
        df.join(scored, id_col, "left")
        .withColumn("n_shingles", F.coalesce("n_shingles", F.lit(0)))
        .withColumn("n_dup", F.coalesce("n_dup", F.lit(0)))
        .withColumn(
            "dup_frac",
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_dup") / F.col("n_shingles"),
            ),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """C4-style exact paragraph deduplication: across the whole
    corpus, every distinct paragraph (line) is kept only at its FIRST
    occurrence — ordered by (doc_id, position) — and removed
    everywhere else; each document's text is rebuilt from its
    surviving paragraphs in original order.

    Scale shape (the 100 TB plan):
    - paragraphs explode to (xxhash64(line), doc_id, pos) — the wide
      strings never enter the ownership shuffle, only 8-byte hashes;
    - first-occurrence ownership is one hash-keyed aggregation
      (``min_by`` on the (doc_id, pos) struct — partial/final, so the
      map side pre-collapses repeated paragraphs);
    - survivors are an equijoin on the hash (AQE handles skew; a
      paragraph repeated 10^9 times is ONE row on the build side);
    - reassembly is one groupBy(doc_id) with array_sort — the only
      shuffle keyed by document.

    Returns (id_col, n_paras, n_paras_kept, clean_text); fully
    deduplicated documents keep an empty clean_text.
    """
    # two independent xxhash64s = an effective 128-bit line key: at
    # 10^12 paragraphs a single 64-bit key WILL collide (birthday at
    # ~2^32), silently deleting an innocent paragraph; 128 bits puts
    # collision odds below 10^-14 for the same corpus
    lines = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), line_sep)).alias(
                "pos", "line"
            ),
        )
        .withColumn("lh", F.xxhash64("line"))
        .withColumn("lh2", F.xxhash64("line", F.lit(1)))
    )
    owner = (
        lines.groupBy("lh", "lh2")
        .agg(F.min(F.struct(id_col, "pos")).alias("first_at"))
        .select(
            "lh",
            "lh2",
            F.col("first_at")[id_col].alias("__own_id"),
            F.col("first_at.pos").alias("__own_pos"),
        )
    )
    kept = (
        lines.join(owner, on=["lh", "lh2"])
        .where(
            (F.col(id_col) == F.col("__own_id"))
            & (F.col("pos") == F.col("__own_pos"))
        )
        .select(id_col, "pos", "line")
    )
    per_doc_total = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), line_sep)).alias("n_paras"),
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("n_paras_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            line_sep,
        ).alias("clean_text"),
    )
    return (
        per_doc_total.join(rebuilt, on=id_col, how="left")
        .withColumn(
            "n_paras_kept", F.coalesce("n_paras_kept", F.lit(0))
        )
        .withColumn("clean_text", F.coalesce("clean_text", F.lit("")))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C procedure, as
    re-implemented by every open pipeline since): flag every corpus
    document that shares at least one k-word shingle with the
    benchmark/eval set.

    Scale shape (the 100 TB plan):
    - the benchmark gram set is tiny by construction (eval suites are
      MBs, the corpus is TBs) — it broadcasts as 8-byte xxhash64 keys;
    - the corpus side is a stateless shingle explode + BROADCAST hash
      join; only MATCHED grams enter the per-doc count shuffle, so a
      clean corpus shuffles ~nothing;
    - per-doc gram counts come from the same shingle array (no second
      tokenization pass).

    Returns (id_col, n_grams, n_contam, contaminated): distinct
    k-grams per doc, how many of them hit the benchmark set, and the
    0/1 flag.
    """
    # paired xxhash64s (128-bit effective key): with 10^12 corpus
    # grams probed against a multi-million-gram benchmark set, a
    # single 64-bit key has non-negligible odds of one false
    # contamination flag; 128 bits makes it ~10^-20
    bench_grams = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), k)).alias("g")
        )
        .select(
            F.xxhash64("g").alias("gh"),
            F.xxhash64("g", F.lit(1)).alias("gh2"),
        )
        .distinct()
    )
    with_sh = corpus.select(
        F.col(id_col),
        word_shingles(F.col(text_col), k).alias("__sh"),
    )
    grams = with_sh.select(
        id_col, F.explode("__sh").alias("g")
    ).select(
        id_col,
        F.xxhash64("g").alias("gh"),
        F.xxhash64("g", F.lit(1)).alias("gh2"),
    )
    matched = (
        grams.join(F.broadcast(bench_grams), on=["gh", "gh2"])
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contam"))
    )
    return (
        with_sh.select(id_col, F.size("__sh").alias("n_grams"))
        .join(matched, on=id_col, how="left")
        .withColumn("n_contam", F.coalesce("n_contam", F.lit(0)))
        .withColumn(
            "contaminated", (F.col("n_contam") > 0).cast("int")
        )
    )


def remove_dup_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicated-substring REMOVAL (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    ExactSubstr dedup): every n-word window whose exact text occurs at
    least ``min_count`` times anywhere in the corpus (other docs or
    the same doc) is a duplicated span; all words covered by any
    duplicated span are cut, and the survivors are re-joined into the
    cleaned text.  This is the *surgical* counterpart of the document
    -level dedups above: boilerplate is removed, the unique remainder
    of the page survives.

    The reference implementation builds a corpus suffix array; the
    distributed re-expression is windowed hashing — equivalent for a
    fixed window length, and all-JVM here:

    1. per doc: ``transform(sequence(...))`` emits the xxhash64 of
       every positional n-word window (wide strings never leave the
       worker; only 8-byte hashes enter the shuffle);
    2. one hash-agg counts window occurrences corpus-wide;
    3. one equijoin back on the hash (reusing the agg's hash
       partitioning) recovers the duplicated start positions per doc;
    4. a per-doc array fold marks covered word indexes (word w is cut
       iff some duplicated window starts in [w-n+1, w]) and rebuilds
       the text — no second explode, no python.

    Returns the input plus ``n_words``, ``n_removed``, ``clean_text``
    (NULL text -> 0/0/NULL; fully-duplicated text -> '').

    **Collision bound** (hash equality stands in for window-string
    equality): with W distinct windows in the corpus, the expected
    number of colliding 64-bit xxhash64 window pairs is
    ~ W^2 / 2^65 — a collision silently over-cuts the affected span.
    Concretely: W = 10^6 (gate tier) -> ~3e-8 expected collisions;
    W = 5e7 (the 1.8M-doc bench tier) -> ~7e-5; W = 10^11 (a 100 TB
    corpus at ~500 distinct windows/doc) -> ~0.3 expected collisions
    corpus-WIDE, i.e. O(n) cut words out of ~10^13 — noise relative
    to the boilerplate actually removed.  If even that is too much,
    verify-join the flagged positions on the window STRING (bounded
    by duplicate count, not corpus size) before cutting.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    has_text = F.col(text_col).isNotNull() & (
        F.trim(F.col(text_col)) != ""
    )
    base = df.select(
        id_col,
        F.when(has_text, toks).alias("__t"),
    )
    windows = base.where(
        F.size("__t") >= n
    ).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("__t") - n),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice("__t", i + 1, n))
                ),
            )
        ).alias("pos", "h"),
    )
    # the window table feeds BOTH the frequency agg and the join-back;
    # materialize it once (same pattern as cluster._materialize) —
    # without this each consumer re-runs the tokenize+hash scan, and
    # at corpus scale the window emit is the single biggest stage
    windows = _materialize(windows)
    dup_h = windows.groupBy("h").agg(F.count("*").alias("c")).where(
        F.col("c") >= min_count
    )
    starts = (
        windows.join(dup_h.select("h"), "h")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("__starts"))
    )
    marked = base.join(starts, id_col, "left").withColumn(
        "__starts",
        F.coalesce("__starts", F.array().cast("array<int>")),
    )
    kept = F.filter(
        F.transform(
            F.col("__t"), lambda w, i: F.struct(w.alias("w"), i.alias("i"))
        ),
        lambda p: ~F.exists(
            F.col("__starts"),
            lambda s: (s <= p["i"]) & (p["i"] < s + n),
        ),
    )
    out = marked.select(
        id_col,
        F.coalesce(F.size("__t"), F.lit(0)).cast("long").alias("n_words"),
        F.coalesce(
            F.size("__t") - F.size(kept), F.lit(0)
        ).cast("long").alias("n_removed"),
        F.when(
            F.col("__t").isNotNull(),
            F.concat_ws(" ", F.transform(kept, lambda p: p["w"])),
        ).alias("clean_text"),
    )
    return df.join(out, id_col)
