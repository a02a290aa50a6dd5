"""Deduplication operators (E19) — exact through fuzzy, designed for the
100 TB regime where the document set cannot be pairwise-compared.

Strategy ladder (cheapest first):
  1. ``dedup_exact``       — hash-groupBy on the raw column. One shuffle.
  2. ``dedup_fingerprint`` — md5 of normalized text; catches whitespace/
     punctuation variants. One shuffle.
  3. ``minhash_lsh_candidates`` — banded MinHash over word shingles; only
     documents agreeing on some band's min-signature ever meet, so the join
     is |candidates| not |docs|² — the standard shingle->minhash->band->
     bucket-join pipeline (Broder '97 resemblance sketches; MMDS ch.3).
  4. ``jaccard_pairs``     — exact n-gram Jaccard, evaluated ONLY on
     candidate pairs (or small inputs): explode shingles, self-join on
     shingle, |intersection| / (|A|+|B|-|intersection|).
  5. ``simhash``           — per-doc bit-majority fingerprint (Charikar '02
     shape): near-dups land on equal or Hamming-close fingerprints; here a
     16-bit hex-majority variant whose arithmetic is reproducible in ANSI SQL.

Scale notes: every step is explode + groupBy/join on short string keys —
shuffle-friendly, skew-salted if a shingle is ubiquitous (stopword shingles
can be dropped by document-frequency cap, see ``df_cap`` parameter).
All hashing is md5 (shared with the DuckDB oracle); swap xxhash64 for speed
once cross-engine verification is not needed — the plan shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s4hanaconnector_spark.operators.text import (
    fingerprint,
    normalize_text,
    shingles_from_tokens,
    tokens,
    word_tokens,
)


def dedup_exact(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one canonical row (min id) per value-tuple.
    Returns (cols..., canonical_id, n_dups)."""
    return df.groupBy(*cols).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def dedup_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-exact dedup on normalized-text md5."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingle_table(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) pairs — distinct word n-grams per document.

    Two-stage projection: tokenization is materialized into its own column
    first so the shingle ``transform`` references a plain attribute — without
    this, the normalize+split pipeline re-runs once per shingle position
    (O(words²) per doc; 10× wall on the bench fixture). The tokenize stage is
    CPU-bound, so spread it across all cores when the source has fewer input
    splits than the cluster has slots (a handful of parquet footers at small
    SF; at 100 TB the file splits already exceed core count and the
    repartition is skipped). The split-count probe is ``inputFiles()``
    (file-listing metadata, no plan conversion — ``rdd.getNumPartitions()``
    would force an RDD translation of the whole plan on the driver per
    call); non-file-backed inputs (in-memory test frames) skip the
    repartition, which is exactly right for them."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if 0 < n_files < parallelism:
        df = df.repartition(parallelism)
    toksed = df.select(
        F.col(id_col).alias("doc"),
        word_tokens(F.col(text_col)).alias("toks"),
    )
    return toksed.select(
        "doc",
        F.explode(shingles_from_tokens(F.col("toks"), n)).alias("shingle"),
    )


def ngram_coverage(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, min_df: int = 2
) -> DataFrame:
    """Per-document cross-corpus repeated n-gram coverage: the fraction of a
    document's distinct word n-grams that occur in >= ``min_df`` documents.

    This is the sub-string-level dedup signal (suffix-array duplication rate
    in the Lee et al. '22 "Deduplicating Training Data" sense, re-expressed
    over word shingles): a document whose shingles are mostly corpus-repeats
    is boilerplate or a near-copy even when no SINGLE partner document
    crosses a pairwise Jaccard threshold — exactly the case the pairwise
    ladder rungs cannot see.

    Scale shape: shingle explode -> per-shingle document-frequency as a
    COUNT WINDOW over the shingle partitioning -> groupBy(doc). Never
    pairwise; cost is linear in total shingles. The window replaces the
    previous groupBy(shingle) + join-back: that shape evaluated the whole
    tokenize->shingle->explode subtree TWICE (once under the count
    aggregate, once as the join probe — plan-measured 2x the input scans)
    and at corpus scale the per-shingle count table is itself corpus-sized,
    so the join could never broadcast; the window needs ONE subtree
    evaluation and ONE exchange of the shingle rows. A hot boilerplate
    shingle lands in one window partition, but the join-back's shuffle had
    the identical hot key, so skew is unchanged. df_count per row is the
    same count either way — every shingle row joins its own group's count.
    Returns (doc, total_shingles, dup_shingles, coverage)."""
    from pyspark.sql import Window as W

    sh = shingle_table(df, text_col, id_col, n)
    return (
        # isNotNull keeps INNER-join semantics exactly: a null key never
        # joins (null <> null in SQL), but a window PARTITION would keep it
        sh.filter(F.col("shingle").isNotNull())
        .withColumn(
            "df_count", F.count(F.lit(1)).over(W.partitionBy("shingle"))
        )
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("total_shingles"),
            F.sum(F.when(F.col("df_count") >= min_df, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_shingles"),
        )
        .withColumn(
            "coverage",
            F.col("dup_shingles").cast("double") / F.col("total_shingles"),
        )
    )


def band_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Banded MinHash signatures, ROW-LOCALLY with array functions: per doc,
    md5 every shingle once into a materialized array column, then each
    band's signature is array_min(filter(hashes, leading nibble == band)).
    An explode + groupBy(doc, band) would push |total shingles| rows
    through a shuffle just to take 16 mins per doc; this shape shuffles
    NOTHING for signatures — only the 16-rows-per-doc sig table ever hits
    an exchange downstream, which at 100 TB is the difference between
    shuffling the corpus and shuffling a fingerprint of it.
    Returns (doc, band, sig).

    PRECONDITION: ``id_col`` is unique per input row (the documents model;
    the exact-dedup rung runs before any fuzzy rung). The projection is
    row-local, so a duplicated id yields duplicated (doc, band, sig) rows,
    which would inflate downstream bucket-size counts and shared-band
    tallies. ``incremental_neardup_candidates`` dedupes its hit pairs
    (delta-sized) to be safe under re-ingest; the self-join ladder relies
    on the precondition rather than paying a corpus-sized dedup shuffle."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if 0 < n_files < parallelism:
        df = df.repartition(parallelism)
    toksed = df.select(
        F.col(id_col).alias("doc"),
        word_tokens(F.col(text_col)).alias("toks"),
    )
    hashed = toksed.select(
        "doc",
        F.transform(shingles_from_tokens(F.col("toks"), n), F.md5).alias("hs"),
    )
    band_sigs = F.array(
        *[
            F.struct(
                F.lit(bh).alias("band"),
                F.array_min(
                    F.filter(F.col("hs"), lambda h: F.substring(h, 1, 1) == bh)
                ).alias("sig"),
            )
            for bh in "0123456789abcdef"
        ]
    )
    return (
        hashed.select("doc", F.explode(band_sigs).alias("bs"))
        .select("doc", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
        .filter(F.col("sig").isNotNull())
    )


def incremental_neardup_candidates(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_shared_bands: int = 4,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Incremental NEAR-dup: which new-batch documents are near-duplicates
    of documents already in the corpus — the fuzzy rung of continuous
    corpus building (E116 catches only fingerprint-exact copies; a crawl
    re-encode with a changed tail needs MinHash). Candidates form where a
    batch doc and a corpus doc agree on >= ``min_shared_bands`` band
    signatures; verify rungs (jaccard/edit distance) evaluate on these
    pairs only, exactly like the self-join ladder.

    Plan shape — the corpus is never self-joined and never shuffled raw:
    both sides reduce to row-local band signatures (16 rows/doc); the
    corpus signature stream probes the BROADCAST batch signature set, so
    the shuffles are the (signature-sized, linear) cap window plus the
    capped hit pairs. The hot-bucket cap drops (band, sig) groups holding
    more than ``max_bucket`` corpus docs — boilerplate signatures that
    carry no dedup signal but would fan one batch doc out to the whole
    corpus — and it is applied to the corpus signatures BEFORE the join:
    the x100 ladder measured a post-join placement at >450x the x10 wall
    for 10x data, because the pre-cap join materializes
    |batch| x family_size hit rows (both factors grow with the tier —
    quadratic by construction) only for the cap to discard them. Capping
    per (band, sig) on the corpus side is value-identical: after the
    identity dedup each corpus doc contributes exactly one row per
    bucket, so the per-(band, sig, batch_id) hit count a post-join window
    would measure IS the corpus bucket size, independent of batch_id.
    Returns (batch_id, corpus_id, n_shared_bands)."""
    from pyspark.sql import Window as W

    c_sigs = band_signatures(corpus, text_col, id_col, n).withColumnRenamed(
        "doc", "corpus_id"
    )
    # identity dedup first: a re-ingested doc id (same id, same text, fed
    # twice on either side) would otherwise double both the bucket-size
    # count below AND n_shared_bands (reading 20 of 16 bands)
    c_sigs = c_sigs.dropDuplicates(["band", "sig", "corpus_id"])
    if max_bucket is not None:
        # plain count window, NOT size(collect_set(...)): collect_set
        # buffers every corpus id of the bucket in window state — on
        # exactly the hot buckets this cap exists to shed
        c_sigs = (
            c_sigs.withColumn(
                "__bucket_n",
                F.count(F.lit(1)).over(W.partitionBy("band", "sig")),
            )
            .filter(F.col("__bucket_n") <= max_bucket)
            .drop("__bucket_n")
        )
    b_sigs = (
        band_signatures(batch, text_col, id_col, n)
        .withColumnRenamed("doc", "batch_id")
        .dropDuplicates(["band", "sig", "batch_id"])
        .localCheckpoint(eager=False)
    )
    hits = c_sigs.join(F.broadcast(b_sigs), on=["band", "sig"])
    return (
        hits.groupBy("batch_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .filter(F.col("n_shared_bands") >= min_shared_bands)
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    bands: int = 16,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash.

    Each shingle hashes once (md5); its first hex digit assigns it to one of
    16 bands, and per (doc, band) the minimum hash is the band signature.
    Two docs collide if ANY band signature matches => probability of
    collision rises steeply with Jaccard similarity (the LSH S-curve).
    Returns (doc_a, doc_b, n_shared_bands), doc_a < doc_b.

    At 100 TB: the signature table is |docs| x bands rows (tiny vs shingle
    table); only documents sharing a (band, sig) bucket ever meet. The
    remaining quadratic risk is a HOT BUCKET: one boilerplate min-shingle
    shared by k documents yields k(k-1)/2 pairs — ``max_bucket`` drops
    (band, sig) groups larger than that cap before any pair exists
    (a 182-doc bucket on the test fixture alone contributed 16k of 312k
    candidate pairs; at corpus scale an unbounded bucket is the job-killer).
    Genuine duplicate families are small, so the cap costs no recall on
    them — it sheds only boilerplate collisions that carry no dedup signal.
    With the cap in force the pairing is bucket-local: one groupBy(band,
    sig) folds each bucket into a row, and the (<= cap²/2, typically a few)
    pairs explode from sorted in-row arrays — no self-join, and the md5
    signature subtree is evaluated once instead of once per join side.
    """
    sigs = band_signatures(df, text_col, id_col, n)
    if max_bucket is not None:
        # Capped path: fold each (band, sig) bucket into ONE row and
        # generate its doc pairs row-locally. The historical shape was a
        # self-join on (band, sig) with a count-window cap; both join
        # inputs referenced the same frame, so the whole tokenize ->
        # shingle -> md5 subtree (the operator's dominant cost) executed
        # TWICE, plus two join-side exchanges. Here the subtree runs once
        # and the only signature-sized exchange is the groupBy(band, sig);
        # the cap bounds the per-bucket fan-out (<= cap*(cap-1)/2 pairs
        # from one row), so the explode is row-local and skew-bounded by
        # construction. band_signatures emits one non-null-sig row per
        # (doc, band), so bucket members are distinct and sorted-array
        # (i < j) pairing is exactly the self-join's doc_a < doc_b set.
        buckets = (
            sigs.groupBy("band", "sig")
            .agg(F.collect_list("doc").alias("__docs"))
            .filter(
                (F.size("__docs") >= 2) & (F.size("__docs") <= max_bucket)
            )
            .select(F.array_sort("__docs").alias("__docs"))
        )
        ds = F.col("__docs")
        pair_arr = F.flatten(
            F.transform(
                ds,
                lambda x, i: F.transform(
                    F.slice(ds, i + F.lit(2), F.size(ds)),
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        )
        return (
            buckets.select(F.explode(pair_arr).alias("__p"))
            .select("__p.doc_a", "__p.doc_b")
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        )
    # Uncapped path: keep the self-join — collect_list over an unbounded
    # hot bucket would concentrate a boilerplate family's quadratic pair
    # set in a single row/task, whereas the join at least spreads it.
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig")))
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for pairs sharing >= 1 shingle.

    ``df_cap`` drops shingles appearing in more than that many documents
    (document-frequency cap) — at scale the handful of ubiquitous shingles
    otherwise produce a quadratic blowup while carrying no signal.
    Returns (doc_a, doc_b, jaccard) with jaccard >= threshold.

    With ``df_cap`` set the pairing is bucket-local (the shape of
    minhash_lsh_candidates): one groupBy(shingle) folds each shingle's doc
    list into a row, the cap filter IS the df filter (size(docs) = the
    shingle's row count: shingles are array_distinct per doc), per-doc sizes explode
    back out of the capped buckets, and intersection counts explode from
    row-local sorted (i < j) pair arrays bounded at cap(cap-1)/2 per row.
    The historical shape — count + semi-join for the cap, then a shingle
    self-join — re-evaluated the whole tokenize->shingle subtree ~6x (each
    of the three capped-table references re-ran both the probe AND its
    semi-join's frequency build); the bucket shape evaluates it twice
    (sizes leg + pairs leg) and drops two join exchanges. The uncapped
    path keeps the self-join: an unbounded hot shingle must not
    concentrate its quadratic pair set in one row."""
    sh = shingle_table(df, text_col, id_col, n)
    if df_cap is not None:
        buckets = (
            sh.filter(F.col("shingle").isNotNull())
            .groupBy("shingle")
            .agg(F.collect_list("doc").alias("__docs"))
            .filter(F.size("__docs") <= df_cap)
            .select(F.array_sort("__docs").alias("__docs"))
        )
        sizes = (
            buckets.select(F.explode("__docs").alias("doc"))
            .groupBy("doc")
            .agg(F.count(F.lit(1)).alias("sz"))
        )
        ds = F.col("__docs")
        pair_arr = F.flatten(
            F.transform(
                ds,
                lambda x, i: F.transform(
                    F.slice(ds, i + F.lit(2), F.size(ds)),
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        )
        inter = (
            buckets.filter(F.size("__docs") >= 2)
            .select(F.explode(pair_arr).alias("__p"))
            .select("__p.doc_a", "__p.doc_b")
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("a.doc") < F.col("b.doc"))
            .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    return (
        inter.join(sizes.withColumnsRenamed({"doc": "doc_a", "sz": "sz_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc": "doc_b", "sz": "sz_b"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec: str = "embedding",
    threshold: float = 0.9,
    dims: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate contraction: rows whose vectors are
    closer than ``threshold`` collapse onto the lowest id among their
    neighbors. Rung 6 of the dedup ladder — catches paraphrases/re-encodes
    that share no n-grams.

    Candidate pairs come from sign-bucket LSH (never all-pairs), then each id
    maps to ``min(own id, min neighbor id)`` — a single contraction step.
    Full transitive clusters need iterate-to-fixpoint (alternating
    large-star/small-star a la connected-components); one step is the
    per-round building block and already collapses star-shaped duplicate
    groups, which is the overwhelmingly common shape in practice.
    Returns (id, canonical_id)."""
    from s4hanaconnector_spark.operators.similarity import lsh_bucketed_pairs

    pairs = lsh_bucketed_pairs(df, id_col, vec, dims=dims, min_cosine=threshold)
    neigh = pairs.groupBy("id_b").agg(F.min("id_a").alias("__min_neighbor"))
    return (
        df.select(F.col(id_col))
        .join(neigh, on=F.col(id_col) == F.col("id_b"), how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__min_neighbor"), F.col(id_col)).alias("canonical_id"),
        )
    )


def simhash16(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """16-bit SimHash-style fingerprint: for each of the 16 hex positions of
    each distinct token's md5, take the majority bit (digit >= '8' means the
    high bit of that nibble is set). Near-duplicate documents agree on most
    positions. Charikar'02 shape with arithmetic any SQL engine reproduces.
    Returns (id, simhash STRING of 16 bits)."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
            )
        ).alias("tok"),
    ).withColumn("h", F.md5("tok"))
    aggs = [
        F.when(
            F.avg(F.when(F.substring("h", i + 1, 1) >= "8", 1.0).otherwise(0.0)) >= 0.5,
            "1",
        )
        .otherwise("0")
        .alias(f"b{i}")
        for i in range(16)
    ]
    bits = toks.groupBy("doc").agg(*aggs)
    return bits.select("doc", F.concat(*[F.col(f"b{i}") for i in range(16)]).alias("simhash"))


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_shared_bands: int = 4,
    max_rel_dist: float = 0.5,
) -> DataFrame:
    """Verification rung of the dedup ladder: take the MinHash-LSH candidate
    pairs and CONFIRM them with exact Levenshtein distance over normalized
    text — the cheap-candidates / exact-verify two-phase shape. Returns
    (doc_a, doc_b, lev, rel_dist) for pairs whose relative edit distance
    (lev / longer text) is at most ``max_rel_dist``.

    Levenshtein is O(len_a·len_b) per pair, which is exactly why it only
    runs on the LSH survivors (``min_shared_bands`` tightens the candidate
    set) instead of all O(n²) pairs. The two text lookups are broadcast-
    friendly only if docs are small; at 100 TB the join shuffles on doc id,
    which is unavoidable for payload re-attachment and linear in the
    candidate count."""
    from s4hanaconnector_spark.operators.text import normalize_text

    cands = minhash_lsh_candidates(df, text_col, id_col).filter(
        F.col("n_shared_bands") >= min_shared_bands
    )
    norm = df.select(
        F.col(id_col).alias("__nid"), normalize_text(F.col(text_col)).alias("__nt")
    )
    paired = (
        cands.join(norm.withColumnRenamed("__nid", "doc_a"), on="doc_a")
        .withColumnRenamed("__nt", "__ta")
        .join(norm.withColumnRenamed("__nid", "doc_b"), on="doc_b")
        .withColumnRenamed("__nt", "__tb")
    )
    lev = F.levenshtein(F.col("__ta"), F.col("__tb"))
    rel = F.round(
        lev.cast("double") / F.greatest(F.length("__ta"), F.length("__tb"), F.lit(1)), 6
    )
    return (
        paired.select("doc_a", "doc_b", lev.alias("lev"), rel.alias("rel_dist"))
        .filter(F.col("rel_dist") <= max_rel_dist)
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    seen: DataFrame | None = None,
) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup: classify every document of a NEW
    ingest batch against the existing corpus by normalized fingerprint —
    the production shape of continuous corpus building, where each crawl
    drop must be deduplicated against petabytes of already-accepted data
    without ever re-shuffling that data.

    Status per batch row:
      * ``dup_of_corpus`` — fingerprint already in the corpus
        (canonical_id = min corpus id holding it);
      * ``dup_in_batch`` — first seen inside this very batch
        (canonical_id = min batch id holding it);
      * ``new``          — unseen anywhere (canonical_id = own id).
    A row that is both defers to the corpus (the corpus copy is the one
    already delivered downstream).

    100 TB plan shape — the corpus is NEVER shuffled:
      1. one corpus scan, broadcast-hash inner join against the (tiny,
         broadcast) distinct batch fingerprint set → surviving hits only;
      2. the hit set (≤ |batch| rows) aggregates to per-fingerprint min
         corpus id — a shuffle of batch-sized data;
      3. the batch left-joins the broadcast hit table and resolves
         within-batch duplicates with a window over its own fingerprints.
    An optional Bloom filter on corpus fingerprints can pre-drop non-hit
    corpus partitions before step 1; the join above is already one
    scan-side pass, so the bloom rung only saves the probe hashing.

    ``seen`` (optional) is the STREAMING state leg: fingerprints of docs
    accepted as ``new`` by earlier micro-batches, as (fp, canonical_id)
    rows. A batch doc matching it classifies ``dup_in_batch`` with the
    earlier doc's canonical id — so draining a feed batch-by-batch with
    accumulated state reproduces the one-shot classification of the whole
    feed exactly. The state table is |accepted new docs| rows of
    fingerprints (not payloads) and joins broadcast like the hit table.
    Returns (batch_id, status, canonical_id)."""
    from pyspark.sql import Window as W

    c_fp = corpus.select(
        fingerprint(F.col(text_col)).alias("fp"), F.col(id_col).alias("__cid")
    )
    # The batch fingerprint frame feeds BOTH the broadcast hit probe and the
    # final left join; without truncation the whole batch subtree (scans +
    # normalize regexes + md5) executes twice. localCheckpoint materializes
    # the tiny (batch_id, fp) frame once — lazy, so the broadcast job's
    # materialization is reused by the probe side (measured 2x on the
    # bench fixture). The batch is the small side by contract.
    b_fp = batch.select(
        F.col(id_col).alias("batch_id"), fingerprint(F.col(text_col)).alias("fp")
    ).localCheckpoint(eager=False)
    hits = (
        c_fp.join(F.broadcast(b_fp.select("fp").distinct()), "fp")
        .groupBy("fp")
        .agg(F.min("__cid").alias("__corpus_canonical"))
    )
    w = W.partitionBy("fp")
    out = b_fp.join(F.broadcast(hits), "fp", "left")
    seen_canonical = F.lit(None).cast("long")
    if seen is not None:
        s = seen.groupBy("fp").agg(F.min("canonical_id").alias("__seen_canonical"))
        out = out.join(F.broadcast(s), "fp", "left")
        seen_canonical = F.col("__seen_canonical")
    return (
        out.withColumn("__batch_min", F.min("batch_id").over(w))
        .select(
            "batch_id",
            F.when(F.col("__corpus_canonical").isNotNull(), F.lit("dup_of_corpus"))
            .when(
                seen_canonical.isNotNull() | (F.col("__batch_min") < F.col("batch_id")),
                F.lit("dup_in_batch"),
            )
            .otherwise(F.lit("new"))
            .alias("status"),
            F.coalesce(
                F.col("__corpus_canonical"),
                # least() skips NULLs: min over earlier-batch canonical (if
                # any) and this batch's own per-fp min (== own id for a
                # first occurrence), which is the one-shot feed-wide min
                F.least(seen_canonical, F.col("__batch_min")),
            ).alias("canonical_id"),
        )
    )


def cross_corpus_contamination(
    train: DataFrame, eval_: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Benchmark decontamination: which training documents share at least
    one word n-gram with any evaluation document (the n-gram-overlap
    definition used for pre-training eval hygiene). Returns one row per
    contaminated training doc: (train_id, n_evals_hit, n_shared_ngrams).

    Both corpora reduce to DISTINCT (doc, shingle) pairs (shingle_table —
    normalized text, whole-doc fallback for short docs); the overlap is one
    equi-join on the shingle followed by a per-train-doc aggregation. At
    scale the eval side is tiny (benchmarks), so it broadcasts; the train
    shingle table never self-joins."""
    tr = shingle_table(train, text_col, id_col, n).withColumnRenamed("doc", "train_id")
    ev = shingle_table(eval_, text_col, id_col, n).withColumnRenamed("doc", "eval_id")
    return (
        tr.join(F.broadcast(ev), on="shingle")
        .groupBy("train_id")
        .agg(
            F.count_distinct("eval_id").alias("n_evals_hit"),
            F.count(F.lit(1)).alias("n_shared_ngrams"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
    round_digits: int = 6,
    max_cell: int | None = None,
    n_assign: int = 1,
) -> DataFrame:
    """Cluster-partitioned semantic dedup (the SemDeDup shape, Abbas et al.
    2023): a coarse quantizer assigns every vector to a k-means-style cell,
    pairwise cosine runs ONLY inside each cell, and every row whose cosine
    to a lower-id cell-mate meets ``threshold`` contracts onto the lowest
    such id. Returns (id, canonical_id) — same single-contraction-step
    contract as :func:`embedding_near_dup`, which buckets by sign-LSH
    instead; the two rungs trade recall shape (sign buckets split on
    hyperplane boundaries, cells on Voronoi boundaries) and SemDeDup is the
    published choice when a trained quantizer already exists for the ANN
    index, because dedup then reuses the index's cells for free.

    100 TB plan shape: cell assignment is the IVF operator's — the
    centroid table collected once, one row-local argmax pass, zero corpus
    shuffle (operators/similarity.py cell_assigner). The only
    shuffle is ONE hash exchange of (id, vec, cell) on the cell id, into
    the per-cell pairing kernel (:func:`_arrow_cell_min_neighbor`); with
    ~sqrt(N) cells each cell holds ~sqrt(N) rows and the pairwise work is
    N^1.5 total instead of N² — the SemDeDup trade. ``max_cell`` drops
    oversized cells BEFORE pairing (the same hot-bucket discipline as
    minhash_lsh_candidates — an oversized cell means the quantizer carries
    no locality signal for its members); rows in dropped cells keep
    themselves. Determinism: affinities and cosines are rounded at
    ``round_digits`` with id tiebreaks, so cells and contraction are
    engine-replicable bit for bit (the declared oracle replays both).
    """
    from s4hanaconnector_spark.operators.similarity import cell_assigner

    assign = cell_assigner(
        df, n_centroids=n_centroids, c_id=id_col, vec=vec,
        round_digits=round_digits, centroids=centroids,
    )
    # n_assign > 1 is MULTI-PROBE SemDeDup: each vector joins pairing in
    # its top-n cells, recovering the true near-dup pairs a single Voronoi
    # assignment splits across a cell boundary (measured: single-probe
    # cell recall on the fixture's planted twins is 79-86%; two probes
    # recover the rest — dedup_semdedup_recall gates both). A pair sharing
    # two cells is scored twice, which is harmless — the contraction is a
    # min over neighbors — and cheaper than a pre-scoring distinct on the
    # candidate set; pairing cost scales by <= n_assign², the same
    # recall/cost dial as ivf_topk's n_probe.
    cells = assign(df.select(id_col, vec), id_col, n_assign)
    return _contract_cells(
        df, cells, id_col, vec, threshold, round_digits, max_cell
    )


def semantic_dedup_windowed(
    df: DataFrame,
    id_col: str,
    vec: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
    round_digits: int = 6,
    pair_window: int = 8,
) -> DataFrame:
    """SemDeDup with a PAIR BUDGET — the winnowed rung that caps
    :func:`semantic_dedup`'s within-cell quadratic pairing (the one
    alpha>1 family on the x100 ladder): members of each
    cell are RANKED by their (rounded) cosine affinity to the cell's own
    centroid — the SemDeDup paper's centroid-distance ordering — and each
    member is scored ONLY against its next ``pair_window`` successors in
    that rank order. Near-duplicates have near-identical centroid
    affinity, so they sit adjacent in the ranking and a small window
    recovers them; pairs per cell drop from n²/2 to <= n*w (a per-cell
    pair budget B corresponds to w = B/n), making the whole pass O(N*w)
    after ONE hash exchange on the cell id — alpha ~1.0 at the ladder in
    place of the uncapped rung's measured 1.25-1.29 (design 1.5).

    Plan shape (the 100 TB contract): cell assignment is the shared
    row-local argmax (zero corpus shuffle); own-centroid affinity comes
    from a broadcast join with the sqrt(N)-row centroid table; the rank
    and the successor scoring run in one per-cell kernel
    (:func:`_arrow_cell_window_neighbor`), so there is no pairing
    self-join at all — the only shuffle in the operator is the exchange on
    ``__cell``. ``max_cell`` is deliberately absent: the cap exists to
    bound quadratic occupancy, and this rung's work is linear in occupancy
    by construction.

    Determinism matches the family contract: affinities and cosines are
    rounded at ``round_digits``; rank ties break to the lowest id; the
    contraction is the same lowest-id-neighbor single step, so the
    declared oracle replays the result bit for bit. Recall vs the
    uncapped rung is GATED, not assumed (tests/test_scale_smoke.py ladders
    both and measures the contraction-set recall)."""
    from s4hanaconnector_spark.operators.similarity import cell_assigner

    _check_window(pair_window)
    assign = cell_assigner(
        df, n_centroids=n_centroids, c_id=id_col, vec=vec,
        round_digits=round_digits, centroids=centroids,
    )
    cells = assign(df.select(id_col, vec), id_col, 1)
    # the centroid table again, this time as DATA for the own-cell
    # affinity join — same default prefix rule as cell_assigner resolves
    # internally, same explicit-centroids override
    if centroids is None:
        centroids = df.orderBy(id_col).limit(n_centroids).select(
            F.col(id_col).alias("cent_id"), vec
        )
    return _windowed_contract(
        df.select(F.col(id_col)), cells, centroids, id_col, vec,
        threshold, round_digits, pair_window,
    )


def _check_window(pair_window: int) -> None:
    if pair_window < 1:
        raise ValueError(f"pair_window must be >= 1, got {pair_window}")


def _windowed_contract(
    ids: DataFrame,
    cells: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec: str,
    threshold: float,
    round_digits: int,
    pair_window: int,
) -> DataFrame:
    """Shared pair-budget tail (:func:`semantic_dedup_windowed` and the
    from-index variant): every ``(id, vec, __cell)`` member of ``cells``
    gets its rounded affinity to its own cell's centroid (a broadcast join
    with the ``(cent_id, vec)`` table), pairs only with its next
    ``pair_window`` successors in (affinity desc, id) rank order within
    the cell, then contracts exactly as :func:`_contract_cells` does."""
    from s4hanaconnector_spark.operators.similarity import cosine

    cent = centroids.select(
        F.col("cent_id").alias("__cent_id"), F.col(vec).alias("__cv")
    )
    ranked = cells.join(
        F.broadcast(cent), F.col("__cell") == F.col("__cent_id")
    ).select(
        id_col, vec, "__cell",
        F.round(cosine(F.col(vec), F.col("__cv")), round_digits).alias("__aff"),
    )
    # one member-sized boundary crossing per cell: a JVM window with
    # lead() successor arrays would materialize ``pair_window`` copies of
    # every member's vector and ship both vectors per candidate pair
    neigh = _arrow_cell_window_neighbor(
        ranked, id_col, vec, threshold, round_digits, pair_window,
    )
    return _contract(ids, _min_neighbor(neigh), id_col)


def _min_neighbor(neigh: DataFrame) -> DataFrame:
    """Fold per-cell ``(id_b, __min_neighbor)`` rows to one per id: under
    multi-probe an id receives a min-neighbor from each of its cells."""
    return neigh.groupBy("id_b").agg(
        F.min("__min_neighbor").alias("__min_neighbor")
    )


def _contract(ids: DataFrame, neigh: DataFrame, id_col: str) -> DataFrame:
    """The single contraction step of the SemDeDup family: every id maps
    onto its lowest qualifying lower-id neighbor from ``neigh``
    ``(id_b, __min_neighbor)``, or onto itself when it has none."""
    return ids.select(F.col(id_col)).join(
        neigh, on=F.col(id_col) == F.col("id_b"), how="left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("__min_neighbor"), F.col(id_col)).alias("canonical_id"),
    )


def semantic_dedup_from_index(
    spark,
    path: str,
    threshold: float = 0.95,
    max_cell: int | None = None,
    pair_window: int | None = None,
) -> DataFrame:
    """SemDeDup straight off a persisted :func:`build_ann_index` index —
    the full amortization the 100 TB story promises: the index's
    ``vectors/`` postings already carry ``(id, vec, __cell)``, so dedup
    skips BOTH quantizer derivation AND the O(N·sqrt(N)) assignment scan
    and goes directly to within-cell pairing + contraction, reading the
    cell-partitioned parquet the ingest path maintains incrementally
    (append_to_ann_index). Pairing semantics, ``max_cell`` pre-pairing
    capping, rounding and tiebreaks are byte-identical to
    :func:`semantic_dedup` — pinned by tests and by the declared query's
    shared oracle — because the tail IS the same code
    (:func:`_contract_cells`).

    ``pair_window`` composes the index amortization with the pair budget
    (:func:`semantic_dedup_windowed`) — the full 100 TB recipe: no
    quantizer derivation, no assignment scan, AND linear within-cell
    pairing. Affinity to each member's own cell centroid is recomputed
    from the index's persisted ``centroids/`` table via one broadcast
    join (the postings don't store it); with ``pair_window`` set,
    ``max_cell`` is ignored — windowed pairing is linear in occupancy,
    which is the cap's whole job."""
    import os

    from s4hanaconnector_spark.operators.similarity import (
        _index_tombstones,
        _read_index_meta,
        _read_postings,
    )

    if pair_window is not None:
        _check_window(pair_window)
    meta = _read_index_meta(spark, path)
    id_col, vec = meta["c_id"], meta["vec"]
    cells = _read_postings(spark, path, "vectors")
    tomb = _index_tombstones(spark, path, id_col)
    if tomb is not None:
        # deleted ids are not corpus members: excluded from pairing AND
        # from the output id set (same reader contract as probe_ann_index)
        cells = cells.join(F.broadcast(tomb), on=id_col, how="left_anti")
    if pair_window is not None:
        return _windowed_contract(
            cells, cells, spark.read.parquet(os.path.join(path, "centroids")),
            id_col, vec, threshold, meta["round_digits"], pair_window,
        )
    return _contract_cells(
        cells.select(id_col, vec), cells, id_col, vec,
        threshold, meta["round_digits"], max_cell,
    )


def _contract_cells(
    df: DataFrame,
    cells: DataFrame,
    id_col: str,
    vec: str,
    threshold: float,
    round_digits: int,
    max_cell: int | None,
) -> DataFrame:
    """Shared SemDeDup tail: within-cell pairwise cosine over ``cells``
    (``id, vec, __cell``) and single-step contraction of every row of
    ``df`` onto its lowest-id >= threshold cell-mate (see
    :func:`semantic_dedup` for the full plan-shape contract)."""
    from pyspark.sql import Window as W

    # max_cell bounds cell MEMBERSHIP — under multi-probe (n_assign > 1)
    # that includes secondary (probe) members, so a cell can be dropped
    # whose primary occupancy is under the cap. Deliberate:
    # per-cell pairing is quadratic in MEMBERS, probe members included,
    # so membership is exactly the quantity the cap must bound to keep the
    # pairing stage N^1.5; a primary-only cap would re-admit the quadratic
    # blowup through probe fan-in. Within one cell each id appears at most
    # once (a row's n_assign cells are distinct by rank), so this count IS
    # the distinct-id membership — no dedup needed before counting.
    if max_cell is not None:
        cells = (
            cells.withColumn(
                "__cn", F.count(F.lit(1)).over(W.partitionBy("__cell"))
            )
            .filter(F.col("__cn") <= max_cell)
            .drop("__cn")
        )
    # move heavy bytes once: a JVM within-cell SELF-JOIN would send every
    # candidate PAIR across the Python boundary carrying BOTH vectors
    # (quadratic in cell occupancy). The per-cell kernel ships each member
    # vector ONCE and emits at most one row per member.
    neigh = _arrow_cell_min_neighbor(
        cells.select(id_col, vec, "__cell"), id_col, vec,
        threshold, round_digits,
    )
    return _contract(df, _min_neighbor(neigh), id_col)


def _arrow_cell_min_neighbor(
    cells: DataFrame,
    id_col: str,
    vec: str,
    threshold: float,
    round_digits: int,
) -> DataFrame:
    """Per-cell vectorized SemDeDup pairing: groupBy(__cell) ->
    applyInArrow; inside each cell the full pairwise cosine runs as
    blockwise numpy matmul and each member emits at most one row —
    ``(id_b, __min_neighbor)`` where ``__min_neighbor`` is the LOWEST id
    among its >= ``threshold`` lower-id cell-mates, with one member-sized
    boundary crossing per cell.

    Contract: cosine rounded half-up on the binary double at
    ``round_digits`` before thresholding (the :func:`_arrow_assign`
    rounding, which the declared queries' oracle replays);
    zero-norm vectors produce NaN/inf affinities that PASS the threshold
    (Spark NaN-greatest semantics); the min-neighbor is the smallest
    qualifying id. Memory per task is bounded: the cosine matrix is
    computed in row blocks capped at ~16M elements (128 MB of float64),
    and cell occupancy itself is bounded upstream by ``max_cell``."""
    import numpy as np

    from s4hanaconnector_spark.operators.similarity import _vec_matrix

    id_t = cells.schema[id_col].dataType.simpleString()
    out_schema = f"`id_b` {id_t}, `__min_neighbor` {id_t}"
    scale = 10.0 ** round_digits

    def fn(tbl):
        import pyarrow as pa

        m = tbl.num_rows
        ids_col = tbl.column(id_col).combine_chunks()
        if m < 2:
            empty = ids_col.slice(0, 0)
            return pa.table({"id_b": empty, "__min_neighbor": empty})
        ids_np = ids_col.to_numpy(zero_copy_only=False)
        order = np.argsort(ids_np, kind="stable")
        V = _vec_matrix(tbl.column(vec).combine_chunks())[order]
        norms = np.sqrt((V * V).sum(axis=1))
        sel_b: list = []
        sel_n: list = []
        blk = max(1, 16_000_000 // m)
        cols = np.arange(m)[None, :]
        for j0 in range(0, m, blk):
            j1 = min(m, j0 + blk)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (V[j0:j1] @ V.T) / (
                    norms[j0:j1, None] * norms[None, :]
                )
            r = np.copysign(np.floor(np.abs(cos) * scale + 0.5), cos) / scale
            r = np.where(np.isnan(cos), np.inf, r)
            ok = (r >= threshold) & (cols < np.arange(j0, j1)[:, None])
            has = ok.any(axis=1)
            if not has.any():
                continue
            first = ok.argmax(axis=1)  # first True = lowest id (<j by mask)
            sel_b.append(order[np.arange(j0, j1)[has]])
            sel_n.append(order[first[has]])
        if not sel_b:
            empty = ids_col.slice(0, 0)
            return pa.table({"id_b": empty, "__min_neighbor": empty})
        return pa.table(
            {
                "id_b": ids_col.take(pa.array(np.concatenate(sel_b))),
                "__min_neighbor": ids_col.take(pa.array(np.concatenate(sel_n))),
            }
        )

    return cells.groupBy("__cell").applyInArrow(fn, out_schema)


def _arrow_cell_window_neighbor(
    ranked: DataFrame,
    id_col: str,
    vec: str,
    threshold: float,
    round_digits: int,
    pair_window: int,
) -> DataFrame:
    """Per-cell vectorized PAIR-BUDGET pairing: groupBy(__cell) ->
    applyInArrow. Members are ordered by (rounded affinity desc, id asc) —
    NaN affinities first, matching Spark's NaN-greatest descending sort —
    and each member scores against its next ``pair_window`` successors in
    that order (the :func:`semantic_dedup_windowed` pair set, bit for
    bit). Scoring is a row-wise float64 cosine (pairwise-sum reduction,
    round-half-up on the binary double, zero-norm NaN passes). Emits
    ``(id_b, __min_neighbor)`` — per member, the lowest qualifying
    partner id below it."""
    import numpy as np

    from s4hanaconnector_spark.operators.similarity import _vec_matrix

    id_t = ranked.schema[id_col].dataType.simpleString()
    out_schema = f"`id_b` {id_t}, `__min_neighbor` {id_t}"
    scale = 10.0 ** round_digits

    def fn(tbl):
        import pyarrow as pa

        m = tbl.num_rows
        ids_col = tbl.column(id_col).combine_chunks()
        if m < 2:
            empty = ids_col.slice(0, 0)
            return pa.table({"id_b": empty, "__min_neighbor": empty})
        ids_np = ids_col.to_numpy(zero_copy_only=False)
        aff = tbl.column("__aff").combine_chunks().to_numpy(
            zero_copy_only=False
        ).astype(np.float64, copy=False)
        aff_key = np.where(np.isnan(aff), np.inf, aff)
        order = np.lexsort((ids_np, -aff_key))
        V = _vec_matrix(tbl.column(vec).combine_chunks())[order]
        norms = np.sqrt((V * V).sum(axis=1))
        lo_all: list = []
        hi_all: list = []
        for o in range(1, min(pair_window, m - 1) + 1):
            A, B = V[:-o], V[o:]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (A * B).sum(axis=1) / (norms[:-o] * norms[o:])
            r = np.copysign(np.floor(np.abs(cos) * scale + 0.5), cos) / scale
            r = np.where(np.isnan(cos), np.inf, r)
            keep = r >= threshold
            if not keep.any():
                continue
            ia = order[:-o][keep]
            ib = order[o:][keep]
            # normalize each unordered pair to (low id, high id) — rank
            # adjacency does not respect id order, the contraction does.
            # Compare by VALUE (ids may be strings), carry positions.
            swap = ids_np[ia] > ids_np[ib]
            lo_all.append(np.where(swap, ib, ia))
            hi_all.append(np.where(swap, ia, ib))
        if not lo_all:
            empty = ids_col.slice(0, 0)
            return pa.table({"id_b": empty, "__min_neighbor": empty})
        lo = np.concatenate(lo_all)
        hi = np.concatenate(hi_all)
        # min partner id per high-side member: sort by (hi id, lo id) and
        # keep the first row of each hi group
        srt = np.lexsort((ids_np[lo], ids_np[hi]))
        hi_s, lo_s = hi[srt], lo[srt]
        first = np.ones(len(hi_s), dtype=bool)
        first[1:] = hi_s[1:] != hi_s[:-1]
        return pa.table(
            {
                "id_b": ids_col.take(pa.array(hi_s[first])),
                "__min_neighbor": ids_col.take(pa.array(lo_s[first])),
            }
        )

    return ranked.groupBy("__cell").applyInArrow(fn, out_schema)


def incremental_semantic_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    vec: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
    round_digits: int = 6,
    n_assign: int = 1,
) -> DataFrame:
    """Incremental (batch-vs-corpus) SEMANTIC dedup: classify every vector
    of a new ingest batch against the accepted corpus by cell-partitioned
    cosine — the embedding-space analogue of :func:`incremental_dedup`,
    for the paraphrase/re-encode duplicates fingerprints cannot see.

    ``n_assign > 1`` multi-probes the BATCH side only: a batch vector
    whose true corpus twin sits just across a Voronoi boundary misses it
    under single assignment (measured: 8-12 of 56 planted corpus-dups
    classify as 'new' on the fixture — index pollution in the dedup-gated
    ingest pipeline), but its top-2 cells almost always include the
    twin's cell. The corpus stays single-assigned — its cells are the
    index's resident layout — so corpus scan cost is unchanged and only
    the (tiny) batch table fans out n_assign-fold; duplicate pairs are
    absorbed by the min-contraction in both legs, the same argument as
    :func:`semantic_dedup`'s multi-probe.

    Status per batch row (same vocabulary as incremental_dedup):
      * ``dup_of_corpus`` — some corpus vector in the SAME CELL has cosine
        >= threshold (canonical_id = the lowest such corpus id);
      * ``dup_in_batch`` — no corpus hit, but a LOWER-id batch vector in
        the same cell meets the threshold (canonical_id = lowest such);
      * ``new``          — neither (canonical_id = own id).

    100 TB plan shape — the corpus is NEVER shuffled: the quantizer is
    frozen from the corpus (or passed in — at scale, the ANN index's own
    trained centroids), both sides get the shared row-local cell
    assignment, and the corpus leg is one ``mapInArrow`` pass over the
    corpus cell scan that scores each cell's corpus rows against that
    cell's batch vectors (:func:`_arrow_classify_corpus_hits`) — one
    corpus scan, hits only survive. The within-batch leg self-joins the
    batch alone. A batch row in a corpus-hot cell costs one cosine per
    same-cell corpus row on that cell's scan partition — the linear-in-
    corpus-cell-size cost SemDeDup accepts by construction; the batch is
    the small side by contract. Determinism: rounded affinities/cosines
    with id tiebreaks end to end. Returns (batch_id, status, canonical_id).
    """
    from s4hanaconnector_spark.operators.similarity import cell_assigner

    assign = cell_assigner(
        corpus, n_centroids=n_centroids, c_id=id_col, vec=vec,
        round_digits=round_digits, centroids=centroids,
    )
    c_cells = assign(corpus.select(id_col, vec), id_col, 1).select(
        F.col(id_col).alias("__cid"), F.col(vec).alias("__cv"), "__cell"
    )
    # the batch cell table feeds three consumers (corpus scoring closure,
    # batch self-join twice); localCheckpoint materializes the tiny frame
    # once — lazy, same rationale as incremental_dedup's b_fp
    b_cells = (
        assign(batch.select(id_col, vec), id_col, n_assign)
        .select(F.col(id_col).alias("batch_id"), F.col(vec).alias("__bv"), "__cell")
        .localCheckpoint(eager=False)
    )
    return _classify_batch_vs_cells(batch, c_cells, b_cells, id_col,
                                    threshold, round_digits)


def _classify_batch_vs_cells(
    batch: DataFrame,
    c_cells: DataFrame,
    b_cells: DataFrame,
    id_col: str,
    threshold: float,
    round_digits: int,
) -> DataFrame:
    """Shared classification tail of :func:`incremental_semantic_dedup` and
    :func:`incremental_semantic_dedup_from_index`: given corpus cells
    ``(__cid, __cv, __cell)`` and batch cells ``(batch_id, __bv, __cell)``,
    produce one (batch_id, status, canonical_id) row per batch vector
    under the rounded-cosine / id-tiebreak contract documented on the
    public operator."""
    from s4hanaconnector_spark.operators.similarity import cosine

    corpus_hits = _arrow_classify_corpus_hits(
        c_cells, b_cells, threshold, round_digits
    )
    lo = b_cells.select(
        F.col("batch_id").alias("__lo_id"), F.col("__bv").alias("__lv"), "__cell"
    )
    bcos = F.round(cosine(F.col("__lv"), F.col("__bv")), round_digits)
    batch_hits = (
        b_cells.join(lo, on="__cell")
        .filter((F.col("__lo_id") < F.col("batch_id")) & (bcos >= threshold))
        .groupBy("batch_id")
        .agg(F.min("__lo_id").alias("__batch_canonical"))
    )
    return (
        # one output row per batch vector regardless of n_assign fan-out
        batch.select(F.col(id_col).alias("batch_id"))
        .join(F.broadcast(corpus_hits), "batch_id", "left")
        .join(F.broadcast(batch_hits), "batch_id", "left")
        .select(
            "batch_id",
            F.when(F.col("__corpus_canonical").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("__batch_canonical").isNotNull(), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.coalesce(
                F.col("__corpus_canonical"),
                F.col("__batch_canonical"),
                F.col("batch_id"),
            ).alias("canonical_id"),
        )
    )


def _arrow_classify_corpus_hits(
    c_cells: DataFrame,
    b_cells: DataFrame,
    threshold: float,
    round_digits: int,
) -> DataFrame:
    """Corpus-vs-batch scoring: ``mapInArrow`` straight over the corpus
    cell scan, so the corpus is never shuffled. The tiny batch side is
    materialized once, at construction time (one small job), and its
    per-cell matrices ship in the task closure, the way
    :func:`_arrow_assign` ships its centroid table; each corpus Arrow
    batch groups its rows by cell, scores them against that cell's batch
    matrix as blockwise numpy matmul, and emits at most one
    ``(batch_id, __corpus_canonical)`` row per batch vector — the lowest
    qualifying corpus id seen in THIS Arrow batch. A final
    min-contraction folds Arrow-batch partials and the multi-probe
    fan-out (min is associative).

    Contract: cosine rounded half-up on the binary double at
    ``round_digits`` before thresholding (the :func:`_arrow_assign`
    rounding); zero-norm vectors produce NaN cosines that PASS the
    threshold (Spark NaN-greatest comparison semantics); min corpus id by
    VALUE (ids may be strings). Memory per task is bounded: the cosine
    matrix is computed in corpus-row blocks capped at ~16M elements
    (128 MB of float64), and the closure holds |batch| x dims float64 —
    broadcast-sized by the operator's batch-is-small contract."""
    import numpy as np

    from s4hanaconnector_spark.operators.similarity import _vec_matrix

    bt = b_cells.toArrow()
    bid_col = bt.column("batch_id").combine_chunks()
    bcell = bt.column("__cell").combine_chunks().to_numpy(zero_copy_only=False)
    B_all = _vec_matrix(bt.column("__bv").combine_chunks())
    per_cell: dict = {}
    for cell in np.unique(bcell):
        idx = np.nonzero(bcell == cell)[0]
        Bm = B_all[idx]
        per_cell[int(cell)] = (idx, Bm, np.sqrt((Bm * Bm).sum(axis=1)))

    c_t = c_cells.schema["__cid"].dataType.simpleString()
    b_t = b_cells.schema["batch_id"].dataType.simpleString()
    out_schema = f"`batch_id` {b_t}, `__corpus_canonical` {c_t}"
    scale = 10.0 ** round_digits

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0 or not per_cell:
                continue
            cid_col = batch.column(batch.schema.get_field_index("__cid"))
            cids = cid_col.to_numpy(zero_copy_only=False)
            cells_np = batch.column(
                batch.schema.get_field_index("__cell")
            ).to_numpy(zero_copy_only=False)
            V = _vec_matrix(batch.column(batch.schema.get_field_index("__cv")))
            prim = np.argsort(cells_np, kind="stable")
            cs = cells_np[prim]
            starts = np.concatenate(
                ([0], np.nonzero(cs[1:] != cs[:-1])[0] + 1, [len(cs)])
            )
            out_b: list = []
            out_c: list = []
            for g in range(len(starts) - 1):
                pc = per_cell.get(int(cs[starts[g]]))
                if pc is None:
                    continue
                gi = prim[starts[g]:starts[g + 1]]
                # ascending cid within the cell group: the FIRST qualifying
                # corpus row per batch vector is then its min cid
                gi = gi[np.argsort(cids[gi], kind="stable")]
                bidx, Bm, bn = pc
                C = V[gi]
                cn = np.sqrt((C * C).sum(axis=1))
                nb, nc = len(bidx), len(gi)
                best = np.full(nb, -1, dtype=np.int64)
                blk = max(1, 16_000_000 // nb)
                for i0 in range(0, nc, blk):
                    i1 = min(nc, i0 + blk)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = (C[i0:i1] @ Bm.T) / (
                            cn[i0:i1, None] * bn[None, :]
                        )
                    r = (
                        np.copysign(np.floor(np.abs(cos) * scale + 0.5), cos)
                        / scale
                    )
                    r = np.where(np.isnan(cos), np.inf, r)
                    ok = r >= threshold  # (block, nb)
                    hit = ok.any(axis=0)
                    first = ok.argmax(axis=0) + i0
                    upd = hit & (best < 0)
                    best[upd] = first[upd]
                found = np.nonzero(best >= 0)[0]
                if len(found):
                    out_b.append(bidx[found])
                    out_c.append(gi[best[found]])
            if out_b:
                yield pa.RecordBatch.from_arrays(
                    [
                        bid_col.take(pa.array(np.concatenate(out_b))),
                        cid_col.take(pa.array(np.concatenate(out_c))),
                    ],
                    names=["batch_id", "__corpus_canonical"],
                )

    hits = c_cells.select("__cid", "__cv", "__cell").mapInArrow(gen, out_schema)
    return hits.groupBy("batch_id").agg(
        F.min("__corpus_canonical").alias("__corpus_canonical")
    )


def incremental_semantic_dedup_from_index(
    spark,
    path: str,
    batch: DataFrame,
    threshold: float = 0.95,
    n_assign: int = 1,
) -> DataFrame:
    """Batch-vs-INDEX semantic dedup — :func:`incremental_semantic_dedup`
    where the accepted corpus IS a persisted :func:`build_ann_index` index,
    the per-batch shape of the dedup-gated ingest loop
    (streaming_semantic_ingest) done scale-correctly:

      * the resident side's cells are NOT recomputed — ``vectors/`` already
        carries ``(id, vec, __cell)`` in its partition layout, assigned at
        build/append time under the index's frozen centroids, so the
        values are bit-identical to a re-assignment;
      * the resident read is PARTITION-PRUNED to the batch's own cell set:
        a cell no batch vector probes can contribute no pair, so skipping
        it is exact — per-batch resident bytes are |batch cells| x cell
        size (the IVF probe discipline) instead of one full index scan per
        micro-batch, which is the difference between O(index) and
        O(probed cells) ingest at 100 TB.

    The batch is assigned with the index's frozen quantizer (same
    ``cell_assigner`` seam as :func:`append_to_ann_index`), multi-probed
    on the batch side only when ``n_assign > 1``; classification
    semantics, rounding and tiebreaks are the shared tail
    (:func:`_classify_batch_vs_cells`) — equality with the full-scan
    operator on the same frozen centroids is test-pinned. Returns (batch_id, status, canonical_id) keyed by the index's own id
    column.
    """
    from s4hanaconnector_spark.operators.similarity import (
        _index_assigner,
        _index_tombstones,
        _read_index_meta,
        _read_postings,
    )

    meta = _read_index_meta(spark, path)
    id_col, vec = meta["c_id"], meta["vec"]
    round_digits = meta["round_digits"]
    assign = _index_assigner(spark, path, meta)
    b_cells = (
        assign(batch.select(id_col, vec), id_col, n_assign)
        .select(F.col(id_col).alias("batch_id"), F.col(vec).alias("__bv"), "__cell")
        .localCheckpoint(eager=False)
    )
    # bounded collect: <= |batch| * n_assign distinct cell ids (the batch is
    # the small side by contract) — becomes the partition-pruning predicate
    cells = [r["__cell"] for r in b_cells.select("__cell").distinct().collect()]
    resident = _read_postings(spark, path, "vectors").filter(
        F.col("__cell").isin(cells)
    )
    tomb = _index_tombstones(spark, path, id_col)
    if tomb is not None:
        # a deleted id must not veto new ingest: it is no longer corpus
        resident = resident.join(F.broadcast(tomb), on=id_col, how="left_anti")
    c_cells = resident.select(
        F.col(id_col).alias("__cid"), F.col(vec).alias("__cv"), "__cell"
    )
    return _classify_batch_vs_cells(batch, c_cells, b_cells, id_col,
                                    threshold, round_digits)


def winnowed_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 24,
    w: int = 8,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    — the MOSS algorithm): hash every ``k``-char substring, then keep only
    each ``w``-window's MINIMUM hash. The selection guarantees that any two
    documents sharing a raw substring of length >= k + w - 1 share at least
    one selected fingerprint, at ~2/(w+1) the density of full shingling —
    the char-level EXACT-substring dedup signal (Lee et al.'22 use suffix
    arrays for the same contract; winnowing is the sketchable form a
    data-parallel engine can ship).

    Everything before the explode is ROW-LOCAL array math (one substring
    hash array, then sliding window-minima via a sparse table: ceil(log2 w)
    doubling passes of one least() per position, O(chars × log w) JVM
    element ops per doc), so the operator adds no shuffle of its own and
    the exploded output is ~2·chars/w rows per doc, not chars rows. Hashes
    are md5 strings and min is lexicographic, so the DuckDB oracle replays
    the selection bit for bit. Short docs (< k chars) hash their whole
    text — the standard single-fingerprint degeneration. Returns DISTINCT
    (doc, fp) rows."""
    txt = F.col(text_col)
    n_pos = F.greatest(F.length(txt) - F.lit(k - 1), F.lit(1))
    hashes = F.transform(
        F.sequence(F.lit(1), n_pos), lambda i: F.md5(txt.substr(i, F.lit(k)))
    )
    # materialize the hash array FIRST: HOF lambdas re-evaluate referenced
    # subtrees per element (repo-wide perf rule), so every window-min level
    # below must index a materialized column, not re-derive its input
    hashed = df.select(F.col(id_col).alias("doc"), hashes.alias("__hs"))
    # sliding-window minima via a sparse table (doubling): each level
    # m_{2p}[j] = least(m_p[j], m_p[j+p]) covers width 2p in ONE least()
    # per position, vs the naive slice+array_min's O(w) string compares
    # AND a w-element array allocation per window (5.2x measured on the
    # window stage at 20k docs, identical output). min is idempotent, so
    # the final overlapped combine least(m_p[j], m_p[j+w-p]) is exact even
    # when the two spans overlap. F.get returns null past the array end
    # and least() skips nulls, which only matters for rows shorter than w
    # — and those take the whole-array degenerate branch below.
    cur, p = "__hs", 1
    while p * 2 <= w:
        nxt, src, step = f"__m{p * 2}", F.col(cur), p

        def _pair(s, st):
            return lambda j: F.least(
                F.get(s, j - F.lit(1)), F.get(s, j + F.lit(st - 1))
            )

        hashed = hashed.withColumn(
            nxt,
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(src) - F.lit(step), F.lit(1))
                ),
                _pair(src, step),
            ),
        )
        cur, p = nxt, p * 2
    n = F.size(F.col("__hs"))
    top = F.col(cur)
    if p == w:  # w is a power of two: the top level IS the window minima
        tail = top
    else:

        def _combine(j):
            return F.least(
                F.get(top, j - F.lit(1)), F.get(top, j + F.lit(w - p - 1))
            )

        tail = F.transform(
            F.sequence(F.lit(1), F.greatest(n - F.lit(w - 1), F.lit(1))),
            _combine,
        )
    wins = F.when(
        n < F.lit(w), F.array(F.array_min(F.col("__hs")))
    ).otherwise(F.array_distinct(tail))
    return hashed.select("doc", F.explode(wins).alias("fp"))


def substring_duplication(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 24,
    w: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Per-document EXACT-substring duplication: the fraction of a doc's
    winnowed fingerprints (:func:`winnowed_fingerprints`) that occur in
    >= ``min_df`` documents — the char-level companion of
    :func:`ngram_coverage` (word shingles), with winnowing's matched-span
    guarantee: every shared raw substring of length >= k + w - 1 is seen.
    Catches verbatim boilerplate, quotations, and template tails that
    survive word-level normalization — and, unlike the fingerprint rungs,
    is NOT fooled by case/punctuation edits (a case-changed copy shares no
    raw substrings; that is the fingerprint rung's job).

    Scale shape is ngram_coverage's: row-local fingerprint selection ->
    explode (~2·chars/w rows per doc) -> per-fp document frequency as a
    COUNT WINDOW over the fp partitioning -> groupBy(doc). Never pairwise;
    linear in corpus chars. As in ngram_coverage, a groupBy(fp) +
    join-back would evaluate the ENTIRE winnowing subtree (one md5 per
    char position — the operator's dominant cost) twice, once per join
    input; the window computes the identical df_count from one subtree
    evaluation and one exchange of the (doc, fp) rows.
    Returns (doc, total_fps, dup_fps, coverage)."""
    from pyspark.sql import Window as W

    fps = winnowed_fingerprints(df, text_col, id_col, k, w)
    return (
        # isNotNull keeps INNER-join semantics exactly: a null-text doc
        # fingerprints to [null] (md5(null) = null), and a null key never
        # joins — but a window PARTITION groups nulls together and would
        # keep the row, changing the output for null-text documents
        fps.filter(F.col("fp").isNotNull())
        .withColumn("df_count", F.count(F.lit(1)).over(W.partitionBy("fp")))
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("total_fps"),
            F.sum(F.when(F.col("df_count") >= min_df, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_fps"),
        )
        .withColumn(
            "coverage", F.col("dup_fps").cast("double") / F.col("total_fps")
        )
    )
