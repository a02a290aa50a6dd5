"""Declared queries: LLM-data-pipeline operators (SURVEY §2.3 E19-E22).

The documents fixture contains no exact duplicates, so dedup queries run on
``docs_aug``: documents augmented with synthesized exact copies, case
variants and near-duplicates — identical arithmetic in Spark and the oracle.

All hashing is md5 (the one hash function Spark and DuckDB share bit-for-
bit); cosines are rounded to 6 digits BEFORE ranking/thresholding so float
summation order cannot flip a frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s4hanaconnector_spark.operators import dedup as D
from s4hanaconnector_spark.operators import multimodal as M
from s4hanaconnector_spark.operators import similarity as S
from s4hanaconnector_spark.operators import text as X
from s4hanaconnector_spark.queries.registry import register, scratch_root, t
from s4hanaconnector_spark.streaming.core import drain

# ---------------------------------------------------------------------------
# shared augmented-documents fixture (dup synthesis)
# ---------------------------------------------------------------------------


def docs_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    cased = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.upper("text").alias("text")
    )
    near = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz extra token tail")).alias("text"),
    )
    return d.unionAll(exact).unionAll(cased).unionAll(near)


DOCS_AUG_CTE = """
docs_aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 200000, text FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 100000, upper(text) FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 300000, text || ' zz extra token tail' FROM documents WHERE doc_id % 13 = 0
)
"""

# normalized text + word arrays (DuckDB side)
_NORM = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
# single-regex word tokenization (mirrors operators.text.word_tokens: one
# regex pass, punctuation splits fragments — 2x faster on the shingle path
# than the normalize-then-split chain it replaced)
_WORDS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"

_SHINGLES_CTE = f"""
words AS (
    SELECT doc_id, {_WORDS} AS w FROM docs_aug
),
shingles AS (
    SELECT DISTINCT doc_id AS doc, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM words WHERE len(w) >= 3)
    UNION
    SELECT DISTINCT doc_id, array_to_string(w, ' ') FROM words WHERE len(w) < 3
)
"""


# ---------------------------------------------------------------------------
# E19 — deduplication ladder
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    f"""
WITH {DOCS_AUG_CTE.strip()}
SELECT text, min(doc_id) AS canonical_id, count(*) AS n_dups
FROM docs_aug GROUP BY text
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19a: exact dedup — hash-groupBy on the raw column, one shuffle."""
    return D.dedup_exact(docs_aug(spark, sf_dir), ["text"], "doc_id")


@register(
    "dedup_fingerprint",
    f"""
WITH {DOCS_AUG_CTE.strip()}
SELECT md5({_NORM}) AS fp, min(doc_id) AS canonical_id, count(*) AS n_dups
FROM docs_aug GROUP BY 1
""",
    headline=True,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19b: normalized-fingerprint dedup — catches case/whitespace/punct
    variants the exact pass misses (the synthesized upper() copies)."""
    return D.dedup_fingerprint(docs_aug(spark, sf_dir), "text", "doc_id")


@register(
    "dedup_minhash_lsh",
    f"""
WITH {DOCS_AUG_CTE.strip()},
{_SHINGLES_CTE.strip()},
sigs0 AS (
    SELECT doc, substr(md5(shingle), 1, 1) AS band, min(md5(shingle)) AS sig
    FROM shingles GROUP BY doc, band
),
small AS (
    SELECT band, sig FROM sigs0 GROUP BY band, sig HAVING count(*) <= 64
),
sigs AS (
    SELECT s.doc, s.band, s.sig FROM sigs0 s JOIN small USING (band, sig)
)
SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_shared_bands
FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
WHERE a.doc < b.doc
GROUP BY a.doc, b.doc
""",
    headline=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19c: banded-MinHash candidate generation — shingle -> md5 -> 16
    bands by leading nibble -> per-(doc,band) min signature -> bucket
    join, hot buckets (boilerplate signatures shared by >64 docs) dropped
    before the self-join. Only documents agreeing on a band signature
    ever meet."""
    return D.minhash_lsh_candidates(docs_aug(spark, sf_dir), "text", "doc_id")


@register(
    "dedup_jaccard",
    f"""
WITH {DOCS_AUG_CTE.strip()},
{_SHINGLES_CTE.strip()},
rare AS (
    SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= 128
),
sh AS (SELECT s.doc, s.shingle FROM shingles s JOIN rare USING (shingle)),
sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle
    WHERE a.doc < b.doc GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
""",
)
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19d: exact n-gram Jaccard on shingle-sharing pairs, with the
    document-frequency cap engaged (a shingle in >128 docs is boilerplate:
    it contributes quadratic pairs and ~zero Jaccard signal — both sides of
    the similarity computation drop it identically, so scores stay exact
    over the capped shingle universe). Catches the synthesized
    near-duplicates at >= 0.5."""
    return D.jaccard_pairs(
        docs_aug(spark, sf_dir), "text", "doc_id", threshold=0.5, df_cap=128
    )


@register(
    "dedup_ngram_coverage",
    f"""
WITH {DOCS_AUG_CTE.strip()},
{_SHINGLES_CTE.strip()},
dfreq AS (
    SELECT shingle, count(*) AS df_count FROM shingles GROUP BY shingle
),
cov AS (
    SELECT doc,
           count(*) AS total_shingles,
           CAST(sum(CASE WHEN df_count >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_shingles
    FROM shingles JOIN dfreq USING (shingle)
    GROUP BY doc
)
SELECT doc, total_shingles, dup_shingles,
       CAST(dup_shingles AS DOUBLE) / total_shingles AS coverage
FROM cov
WHERE CAST(dup_shingles AS DOUBLE) / total_shingles >= 0.5
""",
)
def dedup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E106: sub-document duplication rate — fraction of each document's
    distinct 3-gram shingles occurring in >= 2 documents. Flags boilerplate
    and diffuse near-copies that no single pairwise comparison crosses a
    threshold on (the suffix-array-duplication signal of Lee et al. '22,
    re-expressed as corpus-frequency joins: linear in shingles, never
    pairwise). Coverage is one exact-integer division, so the frontier
    cannot float-flip."""
    cov = D.ngram_coverage(docs_aug(spark, sf_dir), "text", "doc_id")
    return cov.filter(F.col("coverage") >= 0.5)


_SIMHASH_BITS = ",\n       ".join(
    f"CASE WHEN avg(CASE WHEN substr(h, {i + 1}, 1) >= '8' THEN 1.0 ELSE 0.0 END) >= 0.5 "
    f"THEN '1' ELSE '0' END AS b{i}"
    for i in range(16)
)
_SIMHASH_CONCAT = " || ".join(f"b{i}" for i in range(16))


@register(
    "dedup_simhash",
    f"""
WITH {DOCS_AUG_CTE.strip()},
toks AS (
    SELECT DISTINCT doc_id AS doc, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS tok
    FROM docs_aug
),
bits AS (
    SELECT doc, {_SIMHASH_BITS}
    FROM (SELECT doc, md5(tok) AS h FROM toks)
    GROUP BY doc
)
SELECT doc, {_SIMHASH_CONCAT} AS simhash FROM bits
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19e: 16-bit SimHash-style bit-majority fingerprint over distinct
    tokens (Charikar'02 shape) — near-dups agree on most bits."""
    return D.simhash16(docs_aug(spark, sf_dir), "text", "doc_id")


# ---------------------------------------------------------------------------
# E20 — similarity search
# ---------------------------------------------------------------------------

_COS_DOT = (
    "sum(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))"
    " / (sqrt(sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))"
    " * sqrt(sum(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))"
)


@register(
    "similarity_topk_bruteforce",
    f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
pairs AS (
    SELECT q.q_id, c.vec_id AS c_id, q.qv, c.embedding AS cv
    FROM q CROSS JOIN embeddings c
    WHERE c.vec_id <> q.q_id
),
expl AS (SELECT q_id, c_id, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM pairs),
scored AS (
    SELECT q_id, c_id, round({_COS_DOT}, 6) AS cosine
    FROM expl GROUP BY q_id, c_id
),
ranked AS (
    SELECT q_id, c_id, cosine,
           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
    FROM scored
)
SELECT q_id, c_id, cosine, rn FROM ranked WHERE rn <= 10
""",
    headline=True,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 baseline: exact cosine top-10 for 5 query vectors — broadcast
    queries x one corpus pass, per-partition then global top-k."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return S.brute_force_topk(q, c, k=10)


@register(
    "similarity_lsh_pairs",
    f"""
WITH b AS (
    SELECT vec_id, embedding,
           (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) * 128 +
           (CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END) * 64 +
           (CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END) * 32 +
           (CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) * 16 +
           (CASE WHEN embedding[5] >= 0 THEN 1 ELSE 0 END) * 8 +
           (CASE WHEN embedding[6] >= 0 THEN 1 ELSE 0 END) * 4 +
           (CASE WHEN embedding[7] >= 0 THEN 1 ELSE 0 END) * 2 +
           (CASE WHEN embedding[8] >= 0 THEN 1 ELSE 0 END) AS bucket
    FROM embeddings
),
small AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= 1024),
bc AS (SELECT b.* FROM b JOIN small USING (bucket)),
pairs AS (
    SELECT a.vec_id AS id_a, b2.vec_id AS id_b, a.embedding AS qv, b2.embedding AS cv
    FROM bc a JOIN bc b2 ON a.bucket = b2.bucket
    WHERE a.vec_id < b2.vec_id
),
expl AS (SELECT id_a, id_b, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM pairs),
scored AS (
    SELECT id_a, id_b, round({_COS_DOT}, 6) AS cosine
    FROM expl GROUP BY id_a, id_b
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.25
""",
)
def similarity_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 scale path: sign-bucket LSH (8 coordinate hyperplanes => 256
    buckets) — candidate pairs only form inside a bucket, ~2^8 fewer
    comparisons than all-pairs."""
    return S.lsh_bucketed_pairs(
        t(spark, sf_dir, "embeddings"), "vec_id", dims=8, min_cosine=0.25
    )


@register(
    "similarity_topk_ivf",
    f"""
WITH cent AS (
    SELECT vec_id AS cent_id, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 16
),
ax AS (
    SELECT e.vec_id, e.embedding AS qv, c.cent_id, c.cv,
           unnest(range(1, len(e.embedding) + 1)) AS i
    FROM embeddings e CROSS JOIN cent c
),
aff AS (
    SELECT vec_id, cent_id, round({{cos}}, 6) AS aff
    FROM ax GROUP BY vec_id, cent_id
),
ranked AS (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY aff DESC, cent_id) AS rn
    FROM aff
),
cells AS (SELECT vec_id AS c_id, cent_id AS cell FROM ranked WHERE rn = 1),
probes AS (SELECT vec_id AS q_id, cent_id AS cell FROM ranked WHERE rn <= 4 AND vec_id < 5),
cand AS (
    SELECT p.q_id, c.c_id, qe.embedding AS qv, ce.embedding AS cv
    FROM probes p
    JOIN cells c ON c.cell = p.cell AND c.c_id <> p.q_id
    JOIN embeddings qe ON qe.vec_id = p.q_id
    JOIN embeddings ce ON ce.vec_id = c.c_id
),
cx AS (SELECT q_id, c_id, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM cand),
scored AS (
    SELECT q_id, c_id, round({{cos}}, 6) AS cosine
    FROM cx GROUP BY q_id, c_id
),
topk AS (
    SELECT q_id, c_id, cosine,
           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
    FROM scored
)
SELECT q_id, c_id, cosine, rn FROM topk WHERE rn <= 10
""".format(cos=_COS_DOT),
    headline=True,
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 scale rung 2: IVF — coarse-quantize the corpus into 16 cells,
    probe each query's 4 nearest cells, rescore only those candidates."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return S.ivf_topk(q, c, k=10, n_centroids=16, n_probe=4)


@register(
    "similarity_ivf_recall",
    """
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
bfp AS (
    SELECT q.q_id, c.vec_id AS c_id, q.qv, c.embedding AS cv
    FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.q_id
),
bfx AS (SELECT q_id, c_id, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM bfp),
bfs AS (
    SELECT q_id, c_id, round({cos}, 6) AS cosine FROM bfx GROUP BY q_id, c_id
),
bf AS (
    SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
        FROM bfs
    ) WHERE rn <= 10
),
cent AS (
    SELECT vec_id AS cent_id, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 16
),
ax AS (
    SELECT e.vec_id, e.embedding AS qv, c.cent_id, c.cv,
           unnest(range(1, len(e.embedding) + 1)) AS i
    FROM embeddings e CROSS JOIN cent c
),
aff AS (
    SELECT vec_id, cent_id, round({cos}, 6) AS aff FROM ax GROUP BY vec_id, cent_id
),
rankedc AS (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY aff DESC, cent_id) AS rn
    FROM aff
),
cells AS (SELECT vec_id AS c_id, cent_id AS cell FROM rankedc WHERE rn = 1),
probes AS (SELECT vec_id AS q_id, cent_id AS cell FROM rankedc WHERE rn <= 4 AND vec_id < 5),
cand AS (
    SELECT p.q_id, c.c_id, qe.embedding AS qv, ce.embedding AS cv
    FROM probes p
    JOIN cells c ON c.cell = p.cell AND c.c_id <> p.q_id
    JOIN embeddings qe ON qe.vec_id = p.q_id
    JOIN embeddings ce ON ce.vec_id = c.c_id
),
cx AS (SELECT q_id, c_id, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM cand),
ivs AS (
    SELECT q_id, c_id, round({cos}, 6) AS cosine FROM cx GROUP BY q_id, c_id
),
iv AS (
    SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
        FROM ivs
    ) WHERE rn <= 10
)
SELECT bf.q_id, count(*) AS n_exact, count(iv.c_id) AS n_hit
FROM bf LEFT JOIN iv ON bf.q_id = iv.q_id AND bf.c_id = iv.c_id
GROUP BY bf.q_id
""".format(cos=_COS_DOT),
)
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF rung vs the EXACT brute-force
    rung as an oracle-checked contract — per query, how many of the true
    top-10 the 4-of-16-cell probe recovered, as exact integer counts (no
    float recall in the hash gate). The query function additionally
    ASSERTS the aggregate recall floor (>= 80% — calibrated against
    the measured minimum across sf0.001/0.01/0.1/sf1: 88/92/100/100%),
    so a quantizer or probe regression fails the gate loudly rather than
    shipping a silently worse index; the measured number also motivates
    the production sizing path (kmeans_centroids: sampled KMeans,
    ~sqrt(N) cells)."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    bf = S.brute_force_topk(q, c, k=10).select("q_id", "c_id")
    iv = S.ivf_topk(q, c, k=10, n_centroids=16, n_probe=4).select(
        F.col("q_id").alias("iq"), F.col("c_id").alias("ic")
    )
    out = (
        # both sides are k x |queries| rows; broadcast the probe side so the
        # comparison never sort-merges
        bf.join(
            F.broadcast(iv),
            (F.col("q_id") == F.col("iq")) & (F.col("c_id") == F.col("ic")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count(F.col("ic")).alias("n_hit"),
        )
    )
    # lineage cut before the gate's aggregate: without it the full
    # brute-force + approximate DAG executes TWICE (once for the totals
    # collect, once when the caller consumes the returned frame)
    out = out.localCheckpoint(eager=False)
    totals = out.agg(F.sum("n_exact").alias("e"), F.sum("n_hit").alias("h")).collect()[0]
    # integer cross-multiplication, no float division (determinism rules)
    # explicit raise, not a bare assert: these quality gates are a
    # production fail-loudly contract and must survive `python -O`
    if totals["h"] * 100 < totals["e"] * 80:
        raise AssertionError(
            f"IVF recall regression: {totals['h']}/{totals['e']} below 80%"
        )
    return out


@register(
    "embedding_label_centroids",
    """
SELECT label, i AS dim,
       CAST(CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1e10, 0) AS BIGINT)) AS DOUBLE) / count(*) / 1e10 AS DOUBLE) AS centroid,
       count(*) AS n
FROM (
    SELECT label,
           unnest(embedding) AS v,
           unnest(range(1, len(embedding) + 1)) AS i
    FROM embeddings
)
GROUP BY label, i
""",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E108: per-group vector centroid (the class-prototype / IVF-training
    aggregate) without any vector library: posexplode to (label, dim, value)
    and ONE groupBy(label, dim) with map-side partial sums — the idiomatic
    distributed vector mean. Cross-engine determinism: each element is
    quantized to an exact BIGINT at 1e-10 (both engines round doubles
    half-away-from-zero; dyadic float32 inputs CAN tie at the 10th decimal,
    where decimal(20,10) casts diverge half-up vs half-even — integer
    quantization sidesteps that), summed exactly, one double division at
    the end."""
    e = t(spark, sf_dir, "embeddings")
    expl = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("v").cast("double") * F.lit(1e10), 0).cast("bigint").alias("qv"),
    )
    return expl.groupBy("label", "dim").agg(
        (F.sum("qv").cast("double") / F.count(F.lit(1)) / F.lit(1e10))
        .cast("double")
        .alias("centroid"),
        F.count(F.lit(1)).alias("n"),
    )


_EMB_AUG_CTE = """
e_aug AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
    FROM embeddings
    UNION ALL
    SELECT vec_id + 100000,
           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(1.01 AS DOUBLE) + CAST(0.02 AS DOUBLE))
    FROM embeddings WHERE vec_id % 9 = 0
)
"""


def emb_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings augmented with synthesized near-duplicates (the fixture has
    no natural pairs above cosine 0.5): every 9th vector gets an affine-
    perturbed copy (x*1.01 + 0.02, cosine ~0.999 to its source). All arrays
    cast to double so both engines do identical IEEE arithmetic."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pert = e.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.01) + F.lit(0.02)).alias("embedding"),
    )
    return e.unionByName(pert)


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN 1 ELSE 0 END) * {2 ** (7 - i)}"
    for i in range(8)
)


@register(
    "dedup_embedding_cosine",
    f"""
WITH {_EMB_AUG_CTE.strip()},
b AS (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM e_aug),
p AS (
    SELECT a.vec_id AS id_a, b2.vec_id AS id_b, a.embedding AS qv, b2.embedding AS cv
    FROM b a JOIN b b2 ON a.bucket = b2.bucket
    WHERE a.vec_id < b2.vec_id
),
expl AS (SELECT id_a, id_b, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM p),
pairs AS (
    SELECT id_a, id_b FROM (
        SELECT id_a, id_b, round({_COS_DOT}, 6) AS cosine
        FROM expl GROUP BY id_a, id_b
    ) WHERE cosine >= 0.9
)
SELECT e.vec_id, coalesce(min(pairs.id_a), e.vec_id) AS canonical_id
FROM e_aug e LEFT JOIN pairs ON pairs.id_b = e.vec_id
GROUP BY e.vec_id
""",
    headline=True,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19f: embedding-cosine near-dup — LSH-bucketed candidate pairs at
    cosine >= 0.9, each id contracted onto its lowest-id neighbor."""
    return D.embedding_near_dup(emb_aug(spark, sf_dir), "vec_id", threshold=0.9)


# cell assignment of an arbitrary source CTE to the 16 lowest-id prefix
# centroids — the SAME quantizer rule as _IVF_CELLS_CTE, parametrized over
# the vector universe so the SemDeDup rungs can assign e_aug / corpus+batch;
# n_assign > 1 replays the multi-probe variant (top-n cells per vector)
def _cells_over(src: str, n_assign: int = 1) -> str:
    return f"""
cent AS (
    SELECT vec_id AS cent_id, embedding AS cv FROM {src} ORDER BY vec_id LIMIT 16
),
cax AS (
    SELECT v.vec_id, v.embedding AS qv, c.cent_id, c.cv,
           unnest(range(1, len(v.embedding) + 1)) AS i
    FROM {src} v CROSS JOIN cent c
),
caff AS (
    SELECT vec_id, cent_id, round({_COS_DOT}, 6) AS aff
    FROM cax GROUP BY vec_id, cent_id
),
cells AS (
    SELECT vec_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY aff DESC, cent_id) AS rn
        FROM caff
    ) WHERE rn <= {n_assign}
)
"""


@register(
    "dedup_semdedup",
    f"""
WITH {_EMB_AUG_CTE.strip()},
{_cells_over("e_aug").strip()},
ce AS (SELECT c.vec_id, c.cell, e.embedding FROM cells c JOIN e_aug e USING (vec_id)),
p AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS qv, b.embedding AS cv
    FROM ce a JOIN ce b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
expl AS (SELECT id_a, id_b, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM p),
pairs AS (
    SELECT id_a, id_b FROM (
        SELECT id_a, id_b, round({_COS_DOT}, 6) AS cosine
        FROM expl GROUP BY id_a, id_b
    ) WHERE cosine >= 0.95
)
SELECT e.vec_id, coalesce(min(pairs.id_a), e.vec_id) AS canonical_id
FROM e_aug e LEFT JOIN pairs ON pairs.id_b = e.vec_id
GROUP BY e.vec_id
""",
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19 SemDeDup rung (Abbas et al. 2023): coarse-quantizer cells
    partition the corpus, pairwise cosine runs only INSIDE each cell, and
    each vector contracts onto its lowest-id >= 0.95 cell-mate. The
    cluster-partitioned sibling of ``dedup_embedding_cosine`` (sign-LSH
    buckets): at 100 TB the pairwise work is N^1.5 with ~sqrt(N) cells
    instead of N², the cells are the ANN index's own quantizer for free,
    and the corpus never shuffles for assignment — only ONE hash exchange
    on the cell id (operators/dedup.py semantic_dedup)."""
    return D.semantic_dedup(
        emb_aug(spark, sf_dir), "vec_id", threshold=0.95, n_centroids=16
    )


@register(
    "dedup_semdedup_multiprobe",
    f"""
WITH {_EMB_AUG_CTE.strip()},
{_cells_over("e_aug", n_assign=2).strip()},
ce AS (SELECT c.vec_id, c.cell, e.embedding FROM cells c JOIN e_aug e USING (vec_id)),
p AS (
    -- DISTINCT: a pair sharing BOTH probe cells joins twice; scoring it
    -- once keeps the unnest/GROUP BY dot-product sums identical to the
    -- operator's per-pair cosine (duplicated FP terms only cancel in the
    -- ratio algebraically, not bit-exactly at a round-to-6 boundary)
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                    a.embedding AS qv, b.embedding AS cv
    FROM ce a JOIN ce b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
expl AS (SELECT id_a, id_b, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM p),
pairs AS (
    SELECT id_a, id_b FROM (
        SELECT id_a, id_b, round({_COS_DOT}, 6) AS cosine
        FROM expl GROUP BY id_a, id_b
    ) WHERE cosine >= 0.95
)
SELECT e.vec_id, coalesce(min(pairs.id_a), e.vec_id) AS canonical_id
FROM e_aug e LEFT JOIN pairs ON pairs.id_b = e.vec_id
GROUP BY e.vec_id
""",
)
def dedup_semdedup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE SemDeDup (n_assign=2): each vector joins pairing in its
    top-2 quantizer cells, recovering the true near-dup pairs a single
    Voronoi assignment splits across a cell boundary — the measured
    single-probe cell recall on the fixture's planted twins is only
    79-86% (dedup_semdedup_recall), the exact failure mode IVF probing
    solves with n_probe > 1, applied to dedup. Pairing cost scales by at
    most n_assign²; pairs sharing both cells are scored twice, which the
    min-contraction absorbs (the oracle instead DISTINCTs the pair set
    before scoring so each cosine is one FP sum, bit-matching the
    operator). Same cells, rounding and tiebreak contract as
    the single-probe rung."""
    return D.semantic_dedup(
        emb_aug(spark, sf_dir), "vec_id", threshold=0.95, n_centroids=16,
        n_assign=2,
    )


# the pair-budget oracle: rank cell members by own-centroid affinity,
# pair each member with its next 8 rank successors only, then the usual
# threshold + min-neighbor contraction. Shared verbatim by the inline
# rung and the from-index rung — the index stores the same cells and
# vectors, so both must contract identically.
_SEMDEDUP_WINDOW_SQL = f"""
WITH {_EMB_AUG_CTE.strip()},
{_cells_over("e_aug").strip()},
wr AS (
    SELECT c.vec_id, c.cell,
           row_number() OVER (
               PARTITION BY c.cell ORDER BY f.aff DESC, c.vec_id
           ) AS wrn
    FROM cells c JOIN caff f ON f.vec_id = c.vec_id AND f.cent_id = c.cell
),
wre AS (SELECT w.vec_id, w.cell, w.wrn, e.embedding
        FROM wr w JOIN e_aug e USING (vec_id)),
p AS (
    SELECT least(a.vec_id, b.vec_id) AS id_a,
           greatest(a.vec_id, b.vec_id) AS id_b,
           a.embedding AS qv, b.embedding AS cv
    FROM wre a JOIN wre b
      ON a.cell = b.cell AND b.wrn > a.wrn AND b.wrn <= a.wrn + 8
),
expl AS (SELECT id_a, id_b, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM p),
pairs AS (
    SELECT id_a, id_b FROM (
        SELECT id_a, id_b, round({_COS_DOT}, 6) AS cosine
        FROM expl GROUP BY id_a, id_b
    ) WHERE cosine >= 0.95
)
SELECT e.vec_id, coalesce(min(pairs.id_a), e.vec_id) AS canonical_id
FROM e_aug e LEFT JOIN pairs ON pairs.id_b = e.vec_id
GROUP BY e.vec_id
"""


@register("dedup_semdedup_pair_budget", _SEMDEDUP_WINDOW_SQL)
def dedup_semdedup_pair_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIR-BUDGETED SemDeDup: within each quantizer
    cell, members rank by rounded cosine affinity to their own centroid
    and each member scores only its next 8 rank successors — the paper's
    centroid-distance winnowing as a per-cell pair budget (<= 8n pairs in
    place of n²/2). Near-duplicates carry near-identical centroid
    affinity, so they sit adjacent in rank and an 8-wide window recovers
    them; at the x100 ladder this turns the family's one superlinear rung
    (alpha 1.25-1.29, design 1.5) into a linear pass. The pairing stage
    has NO self-join — rank and successor scoring run in one per-cell
    Arrow kernel, so the operator's only shuffle is the exchange on the
    cell id (operators/dedup.py semantic_dedup_windowed)."""
    return D.semantic_dedup_windowed(
        emb_aug(spark, sf_dir), "vec_id", threshold=0.95, n_centroids=16,
        pair_window=8,
    )


@register("dedup_semdedup_indexed_budget", _SEMDEDUP_WINDOW_SQL)
def dedup_semdedup_indexed_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL 100 TB SemDeDup recipe in one rung: index amortization
    (no quantizer derivation, no assignment scan — cells come straight
    off the persisted index's cell-partitioned ``vectors/`` postings)
    COMPOSED with the pair budget (within-cell pairing linear via the
    8-wide centroid-affinity rank window). Member affinities are
    recomputed from the index's ``centroids/`` table by one broadcast
    join; everything else is the shared windowed tail, so the oracle is
    the same SQL as ``dedup_semdedup_pair_budget`` — the index changes
    where cells and vectors come FROM, not what they are
    (operators/dedup.py semantic_dedup_from_index pair_window)."""
    return D.semantic_dedup_from_index(
        spark, _cached_aug_ann_index(spark, sf_dir), threshold=0.95,
        pair_window=8,
    )


@register(
    "dedup_semdedup_recall",
    f"""
WITH {_EMB_AUG_CTE.strip()},
cent AS (
    SELECT vec_id AS cent_id, embedding AS cv FROM e_aug ORDER BY vec_id LIMIT 16
),
cax AS (
    SELECT v.vec_id, v.embedding AS qv, c.cent_id, c.cv,
           unnest(range(1, len(v.embedding) + 1)) AS i
    FROM e_aug v CROSS JOIN cent c
),
caff AS (
    SELECT vec_id, cent_id, round({_COS_DOT}, 6) AS aff
    FROM cax GROUP BY vec_id, cent_id
),
ranked AS (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY aff DESC, cent_id) AS rn
    FROM caff
),
ap AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS qv, b.embedding AS cv
    FROM e_aug a JOIN e_aug b ON a.vec_id < b.vec_id
),
apx AS (SELECT id_a, id_b, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM ap),
exact AS (
    SELECT id_a, id_b FROM (
        SELECT id_a, id_b, round({_COS_DOT}, 6) AS cosine
        FROM apx GROUP BY id_a, id_b
    ) WHERE cosine >= 0.95
),
f1 AS (
    SELECT DISTINCT e.id_a, e.id_b
    FROM exact e
    JOIN ranked ra ON ra.vec_id = e.id_a AND ra.rn = 1
    JOIN ranked rb ON rb.vec_id = e.id_b AND rb.rn = 1 AND rb.cent_id = ra.cent_id
),
f2 AS (
    SELECT DISTINCT e.id_a, e.id_b
    FROM exact e
    JOIN ranked ra ON ra.vec_id = e.id_a AND ra.rn <= 2
    JOIN ranked rb ON rb.vec_id = e.id_b AND rb.rn <= 2 AND rb.cent_id = ra.cent_id
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
       (SELECT CAST(count(*) AS BIGINT) FROM f1) AS n_found_1probe,
       (SELECT CAST(count(*) AS BIGINT) FROM f2) AS n_found_2probe
""",
)
def dedup_semdedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup CELL-RECALL gate (the sketch-accuracy contract, like the
    MinHash estimator and IVF recall gates): of the TRUE >= 0.95-cosine
    pairs (exact all-pairs at fixture scale — the measurement, not the
    operator), how many share a quantizer cell under single-probe
    assignment, and how many under 2-probe. Emits exact integer counts
    under the hash gate and asserts floors: single-probe >= 70% (measured
    79-86% across sfs — Voronoi boundaries split real twins) and 2-probe
    >= 90% with at least single-probe's count (measured at or near 100%:
    a split pair's two members almost always share their runner-up cell).
    Estimator degradation — a broken argmax, drifted rounding, a bad
    quantizer — fails loudly."""
    from s4hanaconnector_spark.operators.similarity import cell_assigner, cosine

    ea = emb_aug(spark, sf_dir)
    assign = cell_assigner(
        ea, n_centroids=16, c_id="vec_id", vec="embedding"
    )
    a, b = ea.alias("a"), ea.alias("b")
    cos = F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 6)
    exact = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("c"),
        )
        .filter(F.col("c") >= 0.95)
        .select("id_a", "id_b")
    )
    exact = exact.localCheckpoint(eager=False)

    def found(n_probe: int, alias: str):
        cells = assign(ea.select("vec_id", "embedding"), "vec_id", n_probe)
        ca = cells.select(
            F.col("vec_id").alias("id_a"), F.col("__cell").alias("__ca")
        )
        cb = cells.select(
            F.col("vec_id").alias("id_b"), F.col("__cell").alias("__cb")
        )
        return (
            exact.join(ca, "id_a")
            .join(cb, "id_b")
            .filter(F.col("__ca") == F.col("__cb"))
            .select("id_a", "id_b")
            .distinct()
            .agg(F.count(F.lit(1)).alias(alias))
        )

    out = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(found(1, "n_found_1probe"))
        .crossJoin(found(2, "n_found_2probe"))
    )
    out = out.localCheckpoint(eager=False)
    r = out.collect()[0]
    # explicit raise: the gate must survive `python -O` (see IVF gate)
    if r["n_found_1probe"] * 100 < r["n_exact"] * 70:
        raise AssertionError(
            f"semdedup single-probe cell recall regression: "
            f"{r['n_found_1probe']}/{r['n_exact']} below 70%"
        )
    if (
        r["n_found_2probe"] * 100 < r["n_exact"] * 90
        or r["n_found_2probe"] < r["n_found_1probe"]
    ):
        raise AssertionError(
            f"semdedup 2-probe cell recall regression: "
            f"{r['n_found_2probe']}/{r['n_exact']} "
            f"(single-probe {r['n_found_1probe']})"
        )
    return out


# the incremental-semantic fixture: corpus = the raw embeddings (double-
# cast); batch = perturbed copies of every 9th vector (near-dups OF THE
# CORPUS), reversed copies of every 25th (genuinely new directions), and a
# perturbation of each reversed copy (near-dup WITHIN THE BATCH only)
_SEM_INC_CTE = """
corpus AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
    FROM embeddings
),
batch AS (
    SELECT vec_id + 100000 AS vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(1.01 AS DOUBLE) + CAST(0.02 AS DOUBLE)) AS embedding
    FROM embeddings WHERE vec_id % 9 = 0
    UNION ALL
    SELECT vec_id + 300000,
           list_reverse(list_transform(embedding, x -> CAST(x AS DOUBLE)))
    FROM embeddings WHERE vec_id % 25 = 0
    UNION ALL
    SELECT vec_id + 400000,
           list_transform(list_reverse(list_transform(embedding, x -> CAST(x AS DOUBLE))),
                          x -> x * CAST(1.01 AS DOUBLE) + CAST(0.02 AS DOUBLE))
    FROM embeddings WHERE vec_id % 25 = 0
),
allv AS (SELECT * FROM corpus UNION ALL SELECT * FROM batch)
"""


def _sem_inc_frames(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pert = e.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.01) + F.lit(0.02)).alias(
            "embedding"
        ),
    )
    rev = e.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 300000).alias("vec_id"),
        F.reverse(F.col("embedding")).alias("embedding"),
    )
    rev_pert = e.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 400000).alias("vec_id"),
        F.transform(
            F.reverse(F.col("embedding")), lambda x: x * F.lit(1.01) + F.lit(0.02)
        ).alias("embedding"),
    )
    return e, pert.unionByName(rev).unionByName(rev_pert)


@register(
    "dedup_semantic_incremental",
    f"""
WITH {_SEM_INC_CTE.strip()},
{_cells_over("allv").strip()},
ccell AS (SELECT c.vec_id, cl.cell, c.embedding FROM corpus c JOIN cells cl USING (vec_id)),
bcell AS (SELECT b.vec_id, cl.cell, b.embedding FROM batch b JOIN cells cl USING (vec_id)),
chp AS (
    SELECT cc.vec_id AS corpus_id, bc.vec_id AS bid,
           cc.embedding AS qv, bc.embedding AS cv
    FROM ccell cc JOIN bcell bc ON cc.cell = bc.cell
),
chx AS (SELECT corpus_id, bid, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM chp),
corpus_hits AS (
    SELECT bid, min(corpus_id) AS corpus_canonical FROM (
        SELECT corpus_id, bid, round({_COS_DOT}, 6) AS cosine
        FROM chx GROUP BY corpus_id, bid
    ) WHERE cosine >= 0.95 GROUP BY bid
),
bhp AS (
    SELECT lo.vec_id AS lo_id, hi.vec_id AS bid, lo.embedding AS qv, hi.embedding AS cv
    FROM bcell lo JOIN bcell hi ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id
),
bhx AS (SELECT lo_id, bid, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM bhp),
batch_hits AS (
    SELECT bid, min(lo_id) AS batch_canonical FROM (
        SELECT lo_id, bid, round({_COS_DOT}, 6) AS cosine
        FROM bhx GROUP BY lo_id, bid
    ) WHERE cosine >= 0.95 GROUP BY bid
)
SELECT b.vec_id AS batch_id,
       CASE WHEN ch.corpus_canonical IS NOT NULL THEN 'dup_of_corpus'
            WHEN bh.batch_canonical IS NOT NULL THEN 'dup_in_batch'
            ELSE 'new' END AS status,
       coalesce(ch.corpus_canonical, bh.batch_canonical, b.vec_id) AS canonical_id
FROM batch b
LEFT JOIN corpus_hits ch ON ch.bid = b.vec_id
LEFT JOIN batch_hits bh ON bh.bid = b.vec_id
""",
)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19 incremental-semantic rung: a new ingest batch classified against
    the accepted corpus by cell-partitioned cosine — the embedding-space
    analogue of ``dedup_incremental_corpus``, catching the paraphrase /
    re-encode duplicates fingerprints cannot see. The quantizer is frozen
    from the CORPUS (at scale: the ANN index's own centroids), the corpus
    side's only join is broadcast-hash against the tiny batch cell table,
    and the corpus never shuffles (operators/dedup.py
    incremental_semantic_dedup). Batch construction plants all three
    outcomes: perturbed corpus vectors (dup_of_corpus), reversed vectors
    (new), and perturbed copies of those reversals (dup_in_batch)."""
    corpus, batch = _sem_inc_frames(spark, sf_dir)
    return D.incremental_semantic_dedup(
        corpus, batch, "vec_id", threshold=0.95, n_centroids=16
    )


@register(
    "dedup_substring_winnow",
    f"""
WITH {DOCS_AUG_CTE.strip()},
hs AS (
    SELECT doc_id AS doc,
           list_transform(range(1, greatest(length(text) - 23, 1) + 1),
                          i -> md5(substr(text, i, 24))) AS h
    FROM docs_aug
),
wins AS (
    SELECT doc, list_distinct(
        list_transform(range(1, greatest(len(h) - 7, 1) + 1),
                       j -> list_aggregate(list_slice(h, j, j + 7), 'min'))
    ) AS ws
    FROM hs
),
fps AS (SELECT doc, unnest(ws) AS fp FROM wins),
counts AS (SELECT fp, count(*) AS df_count FROM fps GROUP BY fp)
SELECT f.doc, count(*) AS total_fps,
       CAST(sum(CASE WHEN c.df_count >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_fps,
       CAST(sum(CASE WHEN c.df_count >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS coverage
FROM fps f JOIN counts c USING (fp)
GROUP BY f.doc
""",
)
def dedup_substring_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19 char-level EXACT-substring rung: winnowing fingerprints
    (Schleimer et al. SIGMOD'03 / MOSS) — every k-char substring hashed,
    each w-window's minimum kept — so any two docs sharing a raw substring
    of length >= k+w-1 (31 chars here) share a selected fingerprint; the
    per-doc repeated-fingerprint fraction is the suffix-array duplication
    signal of Lee et al.'22 in sketchable form. Complements
    dedup_ngram_coverage (word shingles, normalized) with raw-char
    precision: the planted verbatim and suffix-extended copies score high,
    the CASE-changed copies correctly score zero here. Fingerprint
    selection is row-local array math, explode is ~2·chars/w rows per doc,
    and the only fp-sized shuffle is the document-frequency count window
    (operators/dedup.py substring_duplication)."""
    return D.substring_duplication(
        docs_aug(spark, sf_dir), "text", "doc_id", k=24, w=8, min_df=2
    )


# ---------------------------------------------------------------------------
# E21 — text analysis
# ---------------------------------------------------------------------------

# \s+ (NOT a literal space): operators/text.py tokens() splits on any
# whitespace run — a literal-space oracle silently diverges on the first
# corpus whose documents carry tabs or newlines (the fixtures are
# space-only, so the hash gate alone can never catch the drift)
_DUCK_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
_DUCK_SW = "['the','a','and','of','to','in','is','it','for','on']"


@register(
    "text_stats",
    f"""
SELECT doc_id,
       length(text) AS n_chars_m,
       len({_DUCK_TOKS}) AS n_tokens,
       CAST(length(text) AS DOUBLE) / greatest(len({_DUCK_TOKS}), 1) AS chars_per_token,
       CAST(len(list_filter({_DUCK_TOKS}, x -> list_contains({_DUCK_SW}, x))) AS DOUBLE)
           / greatest(len({_DUCK_TOKS}), 1) AS stopword_ratio,
       CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS digit_ratio
FROM documents
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21: per-document quality-filter features — all JVM-side regex/array
    builtins inside whole-stage codegen."""
    d = t(spark, sf_dir, "documents")
    c = F.col("text")
    toks = X.tokens(c)
    return d.select(
        "doc_id",
        F.length(c).alias("n_chars_m"),
        F.size(toks).alias("n_tokens"),
        (F.length(c).cast("double") / F.greatest(F.size(toks), F.lit(1))).alias(
            "chars_per_token"
        ),
        X.stopword_ratio(c).alias("stopword_ratio"),
        (
            F.length(F.regexp_replace(c, "[^0-9]", "")).cast("double")
            / F.greatest(F.length(c), F.lit(1))
        ).alias("digit_ratio"),
    )


_LANG_SCORE = {
    lang: f"len(list_filter({_DUCK_TOKS}, x -> list_contains({markers!r}, x)))"
    for lang, markers in X.LANG_MARKERS.items()
}
_LANG_CASE = (
    "CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) <= 0 THEN 'und' "
    + " ".join(
        f"WHEN s_{lang} = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN '{lang}'"
        for lang in ["en", "de", "fr", "es", "zh"]
    )
    + " END"
)


@register(
    "text_lang_id",
    f"""
WITH scores AS (
    SELECT doc_id, lang AS labeled_lang,
           {_LANG_SCORE['en']} AS s_en,
           {_LANG_SCORE['de']} AS s_de,
           {_LANG_SCORE['fr']} AS s_fr,
           {_LANG_SCORE['es']} AS s_es,
           {_LANG_SCORE['zh']} AS s_zh
    FROM documents
)
SELECT doc_id, labeled_lang, {_LANG_CASE} AS predicted_lang FROM scores
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21: marker-stopword language-ID heuristic with deterministic
    argmax tie order."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        X.lang_id(F.col("text")).alias("predicted_lang"),
    )


@register(
    "text_token_count",
    f"""
SELECT doc_id,
       len({_DUCK_TOKS}) AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
       CAST(length(text) AS DOUBLE)
           / greatest(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')), 1)
           AS chars_per_bpe_token
FROM documents
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21: LLM token budgeting — whitespace tokens vs BPE-ish pre-tokens
    (letter runs / digit runs / single marks) plus chars-per-token, all
    JVM-side regex built-ins."""
    d = t(spark, sf_dir, "documents")
    c = F.col("text")
    bpe = X.bpe_tokens(c)
    return d.select(
        "doc_id",
        F.size(X.tokens(c)).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        (F.length(c).cast("double") / F.greatest(F.size(bpe), F.lit(1))).alias(
            "chars_per_bpe_token"
        ),
    )


_DUCK_LEN_OK = "CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END"
_DUCK_DIGIT = (
    "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)"
    " / greatest(length(text), 1)"
)
_DUCK_SW_RATIO = (
    f"CAST(len(list_filter({_DUCK_TOKS}, x -> list_contains({_DUCK_SW}, x))) AS DOUBLE)"
    f" / greatest(len({_DUCK_TOKS}), 1)"
)


@register(
    "text_quality",
    f"""
SELECT doc_id,
       {_DUCK_LEN_OK} AS len_ok,
       round(0.4 * ({_DUCK_LEN_OK})
           + 0.3 * (1 - least(({_DUCK_DIGIT}) * 5, 1.0))
           + 0.3 * least(({_DUCK_SW_RATIO}) * 5, 1.0), 6) AS quality
FROM documents
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21: composite quality score — bounded weighted features (length
    band, digit pollution, stopword presence), the standard pre-training
    quality-filter shape. Rounded so both engines agree on the frontier."""
    d = t(spark, sf_dir, "documents")
    c = F.col("text")
    n = F.length(c)
    len_ok = F.when((n >= 50) & (n <= 10000), F.lit(1.0)).otherwise(F.lit(0.0))
    digit = F.length(F.regexp_replace(c, "[^0-9]", "")).cast("double") / F.greatest(
        n, F.lit(1)
    )
    sw = X.stopword_ratio(c)
    quality = F.round(
        0.4 * len_ok
        + 0.3 * (1 - F.least(digit * 5, F.lit(1.0)))
        + 0.3 * F.least(sw * 5, F.lit(1.0)),
        6,
    )
    return d.select("doc_id", len_ok.alias("len_ok"), quality.alias("quality"))


@register(
    "text_fingerprint",
    f"""
SELECT doc_id, md5({_NORM.replace('docs_aug', 'documents')}) AS fp
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21: document fingerprint = md5 over normalized text."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", X.fingerprint(F.col("text")).alias("fp"))


# ---------------------------------------------------------------------------
# E22 — multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "multimodal_features",
    """
SELECT doc_id,
       'text' AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       substr(md5(text), 1, 8) AS md5_prefix,
       TRUE AS feature_ok
FROM documents
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22: opaque-binary payload + metadata struct -> Arrow-batched
    mapInPandas feature extraction (decode stubbed deterministically; the
    schema/partitioning/batch plumbing is the real thing)."""
    d = t(spark, sf_dir, "documents")
    payload = M.attach_payload(d, "text", "doc_id", kind="text")
    return M.extract_features(payload)


@register(
    "multimodal_frame_sample",
    """
WITH f AS (
    SELECT doc_id, text,
           least(greatest(octet_length(encode(text)) // 1000, 1), 8) AS n_frames
    FROM documents
),
fr AS (
    SELECT doc_id, text, CAST(unnest(range(0, n_frames)) AS INT) AS frame_no FROM f
)
SELECT doc_id, frame_no,
       CAST(frame_no AS BIGINT) * 1000 AS ts_ms,
       md5(text || CAST(frame_no AS VARCHAR)) AS frame_md5
FROM fr
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 fan-out plumbing under the oracle gate: one media payload row
    becomes N frame rows through mapInPandas (the output-rows != input-rows
    batch contract real video decoders need). The stub derives frame count
    from payload size and each frame payload from md5(payload, frame_no),
    so the ORACLE can replay every byte: the hex of the Spark-side binary
    frame payload must equal DuckDB's md5 over the same text+suffix. Row-
    local, no shuffle; fan-out bounded at 8 frames/doc."""
    d = t(spark, sf_dir, "documents")
    payload = M.attach_payload(d, "text", "doc_id", kind="video")
    frames = M.frame_sample(payload, every_ms=1000, max_frames=8)
    return frames.select(
        "doc_id",
        "frame_no",
        "ts_ms",
        F.lower(F.hex("frame_payload")).alias("frame_md5"),
    )


@register(
    "multimodal_image_resize",
    """
SELECT doc_id,
       md5(text || '64x64') AS resized_md5,
       16 AS n_bytes, 64 AS width, 64 AS height
FROM documents
""",
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 transform plumbing under the oracle gate: payload -> decode ->
    resize -> re-encode with updated (width, height) metadata, one row in /
    one row out through mapInPandas. The stub's 'resized' payload is the
    md5 digest of (payload, 'WxH'), replayed byte-for-byte by the oracle;
    the metadata struct carries the new dimensions. Pure projection — no
    shuffle, parallelism = input splits."""
    d = t(spark, sf_dir, "documents")
    payload = M.attach_payload(d, "text", "doc_id", kind="image")
    resized = M.image_resize(payload, 64, 64)
    return resized.select(
        "doc_id",
        F.lower(F.hex("payload")).alias("resized_md5"),
        F.col("media_meta.n_bytes").cast("int").alias("n_bytes"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
    )


# ---------------------------------------------------------------------------
# E19f — dedup cluster assignment (connected components over pair output)
# ---------------------------------------------------------------------------

_JACCARD_EDGE_CTES = f"""
rare AS (
    SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= 128
),
sh AS (SELECT s.doc, s.shingle FROM shingles s JOIN rare USING (shingle)),
sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle
    WHERE a.doc < b.doc GROUP BY 1, 2
),
jpe AS (
    SELECT doc_a AS a, doc_b AS b
    FROM inter
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
),
fp AS (SELECT doc_id, md5({_NORM}) AS f FROM docs_aug),
fpe AS (
    SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY f) AS b FROM fp
),
edges0 AS (
    SELECT a, b FROM fpe WHERE a <> b
    UNION
    SELECT a, b FROM jpe WHERE a <> b
),
edges AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0)
"""


@register(
    "dedup_clusters",
    f"""
WITH RECURSIVE {DOCS_AUG_CTE.strip()},
{_SHINGLES_CTE.strip()},
{_JACCARD_EDGE_CTES.strip()},
reach AS (
    SELECT doc_id AS id, doc_id AS comp FROM docs_aug
    UNION
    SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id
),
lab AS (SELECT id, min(comp) AS component FROM reach GROUP BY id)
SELECT id AS doc_id, component,
       count(*) OVER (PARTITION BY component) AS cluster_size
FROM lab
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19f: the dedup ladder's terminal step — fingerprint edges UNION
    exact-Jaccard edges (>= 0.5, df-capped) fed to distributed connected
    components; every document gets a cluster id (= min doc id reachable)
    and its cluster's size. Transitive closure matters: doc A ~ B by
    fingerprint and B ~ C by Jaccard must land A, B, C in ONE cluster —
    pair lists alone cannot express that. The oracle replays the same
    closure as a recursive CTE (viable at oracle scale only; the Spark side
    is the O(log d)-round distributed loop, operators/graph.py)."""
    from pyspark.sql import Window as W

    from s4hanaconnector_spark.operators.graph import connected_components
    from s4hanaconnector_spark.operators.text import fingerprint

    d = docs_aug(spark, sf_dir)
    fpt = d.select("doc_id", fingerprint(F.col("text")).alias("f"))
    fpe = fpt.select(
        F.col("doc_id").alias("src"),
        F.min("doc_id").over(W.partitionBy("f")).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    jpe = D.jaccard_pairs(d, "text", "doc_id", threshold=0.5, df_cap=128).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components(
        fpe.unionAll(jpe), nodes=d.select("doc_id"), id_col="doc_id"
    )
    return labels.select(
        F.col("id").alias("doc_id"),
        "component",
        F.count(F.lit(1)).over(W.partitionBy("component")).alias("cluster_size"),
    )


def _label_propagation_oracle(iterations: int = 4) -> str:
    ctes = [
        DOCS_AUG_CTE.strip(),
        _SHINGLES_CTE.strip(),
        _JACCARD_EDGE_CTES.strip(),
        "l0 AS (SELECT doc_id AS id, doc_id AS label FROM docs_aug)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""l{i} AS (
    SELECT l.id, least(l.label, coalesce(min(nl.label), l.label)) AS label
    FROM l{i - 1} l
    LEFT JOIN edges e ON e.a = l.id
    LEFT JOIN l{i - 1} nl ON nl.id = e.b
    GROUP BY l.id, l.label
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id AS doc_id, label AS community FROM l{iterations}"
    )


@register("graph_label_propagation", _label_propagation_oracle(4))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19g: bounded-round min-label propagation (operators/graph.py
    label_propagation) over the SAME similarity edges dedup_clusters feeds
    to connected components (fingerprint edges UNION exact-Jaccard >= 0.5).
    4 synchronous rounds — each doc ends with the smallest doc_id within 4
    hops, the community seeding used when full transitive closure is more
    than the pipeline needs. The oracle unrolls the identical 4 rounds as
    chained CTEs (least of own label and min neighbor label per round);
    min-label updates are order-free, so the fixed-round result is exactly
    reproducible on both engines."""
    from pyspark.sql import Window as W

    from s4hanaconnector_spark.operators.graph import label_propagation
    from s4hanaconnector_spark.operators.text import fingerprint

    d = docs_aug(spark, sf_dir)
    fpt = d.select("doc_id", fingerprint(F.col("text")).alias("f"))
    fpe = fpt.select(
        F.col("doc_id").alias("src"),
        F.min("doc_id").over(W.partitionBy("f")).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    jpe = D.jaccard_pairs(d, "text", "doc_id", threshold=0.5, df_cap=128).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = label_propagation(
        fpe.unionAll(jpe), iterations=4, nodes=d.select("doc_id"), id_col="doc_id"
    )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("community")
    )


@register(
    "sample_documents",
    f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || chr(31) || '42'), 1, 8))::BIGINT
      < {int(0.05 * 16**8)}
""",
)
def sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% corpus sample (operators/sampling.py): the keep
    decision is md5(doc_id, seed) — identical rows selected on any engine,
    partitioning or rerun, unlike df.sample(). Pure row-local filter that
    pipelines into the scan; no shuffle, no driver round-trip."""
    from s4hanaconnector_spark.operators.sampling import hash_sample

    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    return hash_sample(d, ["doc_id"], 0.05, seed=42)


@register(
    "split_train_val_test",
    f"""
WITH b AS (
    SELECT n_chars,
           ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || chr(31) || '42'), 1, 8))::BIGINT AS bucket
    FROM documents
)
SELECT CASE WHEN bucket < {int(0.8 * 16**8)} THEN 'train'
            WHEN bucket < {int(0.9 * 16**8)} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars_total
FROM b GROUP BY 1
""",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by cumulative md5-bucket ranges
    (operators/sampling.py): disjoint, exhaustive, rerun-stable — the
    property df.randomSplit() does not give under task retry. Verified by
    per-split document and character totals."""
    from s4hanaconnector_spark.operators.sampling import hash_split

    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        hash_split(d, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars_total"))
    )


@register(
    "dedup_edit_distance",
    f"""
WITH {DOCS_AUG_CTE.strip()},
{_SHINGLES_CTE.strip()},
sigs0 AS (
    SELECT doc, substr(md5(shingle), 1, 1) AS band, min(md5(shingle)) AS sig
    FROM shingles GROUP BY doc, band
),
small AS (
    SELECT band, sig FROM sigs0 GROUP BY band, sig HAVING count(*) <= 64
),
sigs AS (
    SELECT s.doc, s.band, s.sig FROM sigs0 s JOIN small USING (band, sig)
),
cands AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_shared_bands
    FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
    WHERE a.doc < b.doc
    GROUP BY a.doc, b.doc
    HAVING count(*) >= 4
),
norm AS (SELECT doc_id, {_NORM} AS nt FROM docs_aug),
scored AS (
    SELECT c.doc_a, c.doc_b,
           levenshtein(na.nt, nb.nt) AS lev,
           round(CAST(levenshtein(na.nt, nb.nt) AS DOUBLE)
                 / greatest(length(na.nt), length(nb.nt), 1), 6) AS rel_dist
    FROM cands c
    JOIN norm na ON na.doc_id = c.doc_a
    JOIN norm nb ON nb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, lev, rel_dist FROM scored WHERE rel_dist <= 0.5
""",
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup verification rung (operators/dedup.py edit_distance_pairs):
    MinHash-LSH candidates with >= 4 shared band signatures are CONFIRMED
    by exact Levenshtein over normalized text — the cheap-candidates /
    exact-verify two-phase shape. The O(len²) distance only ever runs on
    LSH survivors, never all pairs; both engines implement the classic DP
    metric, so the integer distances match exactly."""
    return D.edit_distance_pairs(
        docs_aug(spark, sf_dir), "text", "doc_id", min_shared_bands=4, max_rel_dist=0.5
    )


_DOC_SHINGLES_CTE = f"""
words_d AS (
    SELECT doc_id, {_WORDS} AS w FROM documents
),
sh_d AS (
    SELECT DISTINCT doc_id AS doc, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM words_d WHERE len(w) >= 3)
    UNION
    SELECT DISTINCT doc_id, array_to_string(w, ' ') FROM words_d WHERE len(w) < 3
)
"""


@register(
    "decontaminate_train_set",
    f"""
WITH {_DOC_SHINGLES_CTE.strip()},
ev AS (SELECT doc AS eval_id, shingle FROM sh_d WHERE doc < 100),
tr AS (SELECT doc AS train_id, shingle FROM sh_d WHERE doc >= 100)
SELECT train_id, count(DISTINCT eval_id) AS n_evals_hit, count(*) AS n_shared_ngrams
FROM tr JOIN ev USING (shingle)
GROUP BY train_id
""",
    headline=True,
)
def decontaminate_train_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py
    cross_corpus_contamination): documents with id < 100 play the held-out
    eval set; any training document sharing a normalized word 3-gram with
    an eval document is flagged with how many eval docs and how many
    distinct-per-doc n-grams it hits. The eval shingle table is tiny and
    broadcasts; the train side aggregates once on doc id — the train
    corpus never self-joins."""
    d = t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") < 100)
    tr = d.filter(F.col("doc_id") >= 100)
    return D.cross_corpus_contamination(tr, ev, "text", "doc_id", n=3)


@register(
    "text_repetition",
    f"""
WITH words AS (
    SELECT doc_id, {_DUCK_TOKS.replace('text', 'lower(text)')} AS w FROM documents
),
g2 AS (
    SELECT doc_id, w[i] || ' ' || w[i+1] AS g
    FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM words WHERE len(w) >= 2)
),
cnt AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
SELECT doc_id,
       round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_ngram_frac,
       round(1 - CAST(count(*) AS DOUBLE) / sum(c), 6) AS dup_ngram_frac
FROM cnt GROUP BY doc_id
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (operators/text.py
    repetition_stats, the Gopher/MassiveText repetition-filter shape):
    top-bigram share and duplicate-bigram share per document. N-grams
    explode row-locally; both aggregations key on the doc id, so the
    shuffles scale with corpus size, not vocabulary."""
    return X.repetition_stats(t(spark, sf_dir, "documents"), "text", "doc_id", n=2)


@register(
    "tfidf_retrieval",
    f"""
WITH toks AS (
    SELECT doc_id, unnest({_DUCK_TOKS.replace('text', 'lower(text)')}) AS tok
    FROM documents
),
hits AS (SELECT doc_id, tok FROM toks WHERE tok IN ('spark', 'shuffle', 'broadcast')),
idf AS (
    SELECT tok,
           ln((SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) FROM documents)
              / count(DISTINCT doc_id)) AS idf
    FROM hits GROUP BY tok
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM hits GROUP BY 1, 2)
SELECT doc_id, round(sum(tf * idf.idf), 6) AS score
FROM tf JOIN idf USING (tok)
GROUP BY doc_id
""",
)
def tfidf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words retrieval scoring (operators/text.py tfidf_search):
    tf·idf of every document against the query {spark, shuffle, broadcast}.
    One token explode (isin-pruned before any shuffle) feeds the (doc,
    term) tf table; per-term document frequency is a COUNT WINDOW over
    that table (tf has one row per pair, so the window count equals the
    old count_distinct) and idf = ln(n_docs/df) evaluates per row — the
    only join is the 1-row corpus-stat broadcast cross (pinned
    by test_tfidf_has_no_idf_join). idf stays unrounded until the final
    summed score so both engines round the same product."""
    return X.tfidf_search(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        ["spark", "shuffle", "broadcast"],
    )


@register(
    "chunk_documents",
    f"""
WITH words AS (
    SELECT doc_id, {_DUCK_TOKS} AS w FROM documents
),
ch AS (
    SELECT doc_id, unnest(range(0, CAST(ceil(len(w) / 64.0) AS BIGINT))) AS chunk_id, w
    FROM words WHERE len(w) > 0
)
SELECT doc_id, chunk_id,
       len(w[chunk_id * 64 + 1 : chunk_id * 64 + 64]) AS n_chunk_tokens,
       md5(array_to_string(w[chunk_id * 64 + 1 : chunk_id * 64 + 64], ' ')) AS chunk_md5
FROM ch
""",
    headline=True,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: each document splits into consecutive
    64-token chunks (operators/text.py chunk_by_tokens) — explode over a
    per-doc sequence + O(64) slices, fully row-local, no shuffle. Chunk
    content is verified by md5 of the rejoined tokens (both engines hash
    identical UTF-8 bytes); DuckDB replays with range() + 1-based
    inclusive list slices, which clamp at array end exactly like Spark's
    slice()."""
    d = t(spark, sf_dir, "documents")
    return X.chunk_by_tokens(d, "text", "doc_id", chunk_size=64)


@register(
    "vocab_term_stats",
    f"""
WITH toks AS (
    SELECT doc_id, unnest({_DUCK_TOKS.replace('text', 'lower(text)')}) AS tok
    FROM documents
)
SELECT tok, count(DISTINCT doc_id) AS doc_freq, count(*) AS total_freq,
       round(ln((SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) FROM documents) / count(DISTINCT doc_id)), 6) AS idf
FROM toks GROUP BY tok
""",
)
def vocab_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary pass (operators/text.py vocab_stats): explode
    tokens once, one hash aggregation keyed on the token producing document
    frequency, total term frequency and idf; the corpus size arrives as a
    broadcast 1-row aggregate, not a driver collect. The shuffle moves
    per-partition partial counts, not one row per token occurrence."""
    d = t(spark, sf_dir, "documents")
    return X.vocab_stats(d, "text", "doc_id")


@register(
    "quantile_outlier_docs",
    """
WITH rk AS (
    SELECT lang, n_chars,
           row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
           count(*) OVER (PARTITION BY lang) AS n
    FROM documents
),
thr AS (
    SELECT lang, n_chars AS p95 FROM rk WHERE rn = CAST(ceil((0.95 * n) * (1 - 0.000000000001)) AS BIGINT)
)
SELECT d.doc_id, d.lang, d.n_chars, thr.p95
FROM documents d JOIN thr USING (lang)
WHERE d.n_chars > thr.p95
""",
)
def quantile_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-outlier corpus filter: per-language exact DISCRETE p95 of
    n_chars (value at sorted position ceil(q*n) — engine-independent
    definition, so the oracle replays the identical window rather than
    trusting two quantile conventions), then keep documents strictly above
    their language's threshold. The one-row-per-lang threshold table
    broadcasts into the probe join (operators/relational.py
    quantile_outlier_filter)."""
    from s4hanaconnector_spark.operators.relational import quantile_outlier_filter

    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return quantile_outlier_filter(d, ["lang"], "n_chars", 0.95, "doc_id").select(
        "doc_id", "lang", "n_chars", "p95"
    )


_PII_TEXT = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or ssn '"
    " || CAST(100 + doc_id % 900 AS VARCHAR) || '-' || CAST(10 + doc_id % 90 AS VARCHAR)"
    " || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)"
)
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_ID = "\\d{3}-\\d{2}-\\d{4}"


@register(
    "pii_redaction",
    f"""
WITH pii AS (SELECT doc_id, {_PII_TEXT} AS text FROM documents)
SELECT doc_id,
       len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(text, '{_PII_ID}')) AS n_number_ids,
       md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_ID}', '<ID>', 'g')) AS redacted_md5
FROM pii
""",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/text.py pii_redact): mask emails and SSN-shaped
    number ids with typed tags, report per-doc hit counts. The fixture has
    no natural PII, so each document gets a deterministic synthesized
    email + SSN appended with identical string arithmetic in both engines;
    the patterns stay inside the regex subset where Java regex and RE2
    agree. Redaction output verified by md5 over the scrubbed text. Pure
    row-local regexp_replace/regexp_count — codegen'd, no shuffle."""
    d = t(spark, sf_dir, "documents")
    pii = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or ssn "),
            (F.lit(100) + F.col("doc_id") % 900).cast("string"),
            F.lit("-"),
            (F.lit(10) + F.col("doc_id") % 90).cast("string"),
            F.lit("-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ).alias("text"),
    )
    c = F.col("text")
    counts = X.pii_counts(c)
    return pii.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_number_ids"].alias("n_number_ids"),
        F.md5(X.pii_redact(c)).alias("redacted_md5"),
    )


@register(
    "dedup_chunks",
    f"""
WITH {DOCS_AUG_CTE.strip()},
words AS (
    SELECT doc_id, {_DUCK_TOKS.replace('documents', 'docs_aug')} AS w FROM docs_aug
),
ch AS (
    SELECT doc_id, unnest(range(0, CAST(ceil(len(w) / 64.0) AS BIGINT))) AS chunk_id, w
    FROM words WHERE len(w) > 0
),
chunks AS (
    SELECT doc_id, chunk_id,
           md5(array_to_string(w[chunk_id * 64 + 1 : chunk_id * 64 + 64], ' ')) AS chunk_md5
    FROM ch
)
SELECT chunk_md5, count(*) AS n_dups,
       min(doc_id * 1000000 + chunk_id) AS canonical_key
FROM chunks GROUP BY chunk_md5 HAVING count(*) > 1
""",
)
def dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUB-DOCUMENT dedup: documents chunk into 64-token windows and the
    chunks themselves dedupe by content hash — the granularity modern
    pipelines actually dedup at (a boilerplate paragraph repeated across
    distinct documents never collides at whole-document level). Runs on
    docs_aug so exact-copy documents guarantee colliding chunks; canonical
    = min (doc, chunk) encoded as doc_id*1e6+chunk_id (chunk counts are
    bounded far below 1e6). Chunking is row-local; the only shuffle is the
    hash aggregation on the chunk digest."""
    from s4hanaconnector_spark.operators.text import chunk_by_tokens

    chunks = chunk_by_tokens(docs_aug(spark, sf_dir), "text", "doc_id", chunk_size=64)
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(F.col("doc_id") * 1000000 + F.col("chunk_id")).alias("canonical_key"),
        )
        .filter(F.col("n_dups") > 1)
    )


@register(
    "decontaminate_semantic",
    f"""
WITH {_EMB_AUG_CTE.strip()},
ev AS (
    SELECT vec_id AS eval_id, embedding AS qv FROM e_aug
    WHERE vec_id >= 100000 AND vec_id < 100100
),
tr AS (SELECT vec_id AS train_id, embedding AS cv FROM e_aug WHERE vec_id < 100000),
pairs AS (SELECT eval_id, train_id, qv, cv FROM ev CROSS JOIN tr),
expl AS (SELECT eval_id, train_id, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM pairs),
scored AS (
    SELECT eval_id, train_id, round({_COS_DOT}, 6) AS cosine
    FROM expl GROUP BY eval_id, train_id
)
SELECT eval_id, train_id, cosine FROM scored WHERE cosine >= 0.98
""",
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space complement of the
    n-gram pass (E37): flag training vectors whose cosine to any held-out
    eval embedding exceeds 0.98 (paraphrases and perturbations that share
    no n-grams still collide in embedding space). The synthesized
    perturbed copies (vec_id+100000, cosine ~0.9875 to their source) stand
    in for the eval set; every flagged train vector must be a true source.
    Eval side is benchmark-sized and broadcasts; one corpus pass, cosines
    rounded before the threshold so the frontier cannot flip."""
    e = emb_aug(spark, sf_dir)
    ev = e.filter((F.col("vec_id") >= 100000) & (F.col("vec_id") < 100100)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    tr = e.filter(F.col("vec_id") < 100000).select(
        F.col("vec_id").alias("c_id"), "embedding"
    )
    from s4hanaconnector_spark.operators.similarity import cosine

    paired = F.broadcast(
        ev.select(F.col("q_id"), F.col("embedding").alias("__qv"))
    ).crossJoin(tr.select(F.col("c_id"), F.col("embedding").alias("__cv")))
    scored = paired.select(
        F.col("q_id").alias("eval_id"),
        F.col("c_id").alias("train_id"),
        F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= 0.98)


@register(
    "collocations_pmi",
    f"""
WITH words AS (
    SELECT doc_id, {_DUCK_TOKS.replace('text', 'lower(text)')} AS w FROM documents
),
uni AS (
    SELECT t, count(*) AS c FROM (SELECT unnest(w) AS t FROM words) GROUP BY t
),
bi AS (
    SELECT a, b, count(*) AS c_ab FROM (
        SELECT w[i] AS a, w[i + 1] AS b
        FROM (SELECT w, unnest(range(1, len(w))) AS i FROM words WHERE len(w) >= 2)
    ) GROUP BY a, b HAVING count(*) >= 5
),
tu AS (SELECT sum(c) AS tu FROM uni),
tb AS (SELECT sum(len(w) - 1) AS tb FROM words WHERE len(w) >= 2)
SELECT bi.a, bi.b, bi.c_ab,
       round(ln((CAST(bi.c_ab AS DOUBLE) / CAST(tb.tb AS DOUBLE))
                / ((CAST(ua.c AS DOUBLE) / CAST(tu.tu AS DOUBLE))
                   * (CAST(ub.c AS DOUBLE) / CAST(tu.tu AS DOUBLE)))), 6) AS pmi
FROM bi
JOIN uni ua ON ua.t = bi.a
JOIN uni ub ON ub.t = bi.b
CROSS JOIN tu CROSS JOIN tb
""",
)
def collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information (operators/
    text.py pmi_collocations): which adjacent word pairs co-occur far more
    than chance — the phrase-detection pass tokenizer/vocab pipelines run.
    Every probability input is an exact integer count, the float
    expression is per-row (no cross-partition accumulation), and the
    oracle mirrors the identical operation tree before the 6-digit
    round."""
    return X.pmi_collocations(
        t(spark, sf_dir, "documents"), "text", "doc_id", min_count=5
    )


@register(
    "pipeline_pretraining_corpus",
    f"""
WITH kept AS (
    SELECT doc_id, text FROM documents WHERE length(text) BETWEEN 50 AND 10000
),
fp AS (
    SELECT doc_id, text, md5({_NORM}) AS f FROM kept
),
canon AS (
    SELECT doc_id, text FROM (
        SELECT doc_id, text, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
        FROM fp
    ) WHERE rn = 1
),
words AS (
    SELECT doc_id, {_DUCK_TOKS} AS w FROM canon
),
ch AS (
    SELECT doc_id, unnest(range(0, CAST(ceil(len(w) / 64.0) AS BIGINT))) AS chunk_id, w
    FROM words WHERE len(w) > 0
),
chunks AS (
    SELECT doc_id, len(w[chunk_id * 64 + 1 : chunk_id * 64 + 64]) AS n_toks FROM ch
),
labeled AS (
    SELECT doc_id, n_toks,
           CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || chr(31) || '42'), 1, 8))::BIGINT < {int(0.8 * 16**8)} THEN 'train'
                WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || chr(31) || '42'), 1, 8))::BIGINT < {int((0.8 + 0.1) * 16**8)} THEN 'val'
                ELSE 'test' END AS split
    FROM chunks
)
SELECT split, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens
FROM labeled GROUP BY split
""",
    headline=True,
)
def pipeline_pretraining_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data pipeline as one declared plan — the
    end-to-end shape a user actually runs, not isolated operators:
    length-band quality filter -> fingerprint dedup (min-id canonical per
    normalized-md5) -> 64-token context-window chunking -> deterministic
    80/10/10 split -> per-split document/chunk/token budget. Every stage
    is an operator declared (and oracle-checked) on its own elsewhere in
    this registry; composing them stays exact because each is. Catalyst
    fuses the whole thing: filter pushes to the scan, one window shuffle
    for dedup, chunking row-local, split row-local, one final
    aggregation."""
    from pyspark.sql import Window as W

    from s4hanaconnector_spark.operators.sampling import hash_split
    from s4hanaconnector_spark.operators.text import chunk_by_tokens, fingerprint

    d = t(spark, sf_dir, "documents")
    kept = d.filter(F.length("text").between(50, 10000)).select("doc_id", "text")
    w = W.partitionBy(fingerprint(F.col("text"))).orderBy(F.col("doc_id").asc())
    canon = (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    chunks = chunk_by_tokens(canon, "text", "doc_id", chunk_size=64)
    labeled = hash_split(
        chunks, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42
    )
    return labeled.groupBy("split").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_chunk_tokens").alias("n_tokens"),
    )


@register(
    "sample_k_per_lang",
    """
SELECT doc_id, lang FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang
                              ORDER BY md5(CAST(doc_id AS VARCHAR) || chr(31) || '42'),
                                       doc_id) AS rn
    FROM documents
) WHERE rn <= 10
""",
)
def sample_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sampling (operators/sampling.py
    hash_topk_per_group): exactly 10 documents per language, chosen by
    md5-hash rank — the reproducible reservoir-sampling stand-in eval-set
    carving needs (fraction sampling cannot promise per-group sizes). Any
    engine, partitioning or rerun selects the identical rows."""
    from s4hanaconnector_spark.operators.sampling import hash_topk_per_group

    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_topk_per_group(d, ["lang"], ["doc_id"], k=10, seed=42)


@register(
    "bm25_retrieval",
    f"""
WITH toks AS (
    SELECT doc_id, unnest({_DUCK_TOKS.replace('text', 'lower(text)')}) AS tok
    FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
corpus AS (SELECT sum(dl) AS total_dl, count(*) AS n_docs FROM dl),
hits AS (SELECT doc_id, tok FROM toks WHERE tok IN ('spark', 'shuffle', 'broadcast')),
idf AS (
    SELECT tok,
           ln((SELECT CAST(n_docs AS DOUBLE) FROM corpus) / count(DISTINCT doc_id)) AS idf
    FROM hits GROUP BY tok
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM hits GROUP BY 1, 2)
SELECT tf.doc_id,
       round(sum(idf.idf * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) * CAST(corpus.n_docs AS DOUBLE) / CAST(corpus.total_dl AS DOUBLE))))), 6) AS bm25
FROM tf
JOIN idf USING (tok)
JOIN dl ON dl.doc_id = tf.doc_id
CROSS JOIN corpus
GROUP BY tf.doc_id
""",
)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (operators/text.py bm25_search, k1=1.2,
    b=0.75) over the query {spark, shuffle, broadcast} — tf-idf plus
    document-length normalization, the default first-stage ranker for
    RAG/retrieval pipelines. All formula inputs are exact integer
    aggregates; the oracle mirrors the operation tree and only the summed
    score rounds."""
    return X.bm25_search(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        ["spark", "shuffle", "broadcast"],
    )


@register(
    "curriculum_order",
    f"""
WITH q AS (
    SELECT doc_id,
           round(0.4 * ({_DUCK_LEN_OK})
               + 0.3 * (1 - least(({_DUCK_DIGIT}) * 5, 1.0))
               + 0.3 * least(({_DUCK_SW_RATIO}) * 5, 1.0), 6) AS quality
    FROM documents
),
tiles AS (
    SELECT doc_id, quality,
           CAST(ntile(4) OVER (ORDER BY quality DESC, doc_id) AS BIGINT) AS tile
    FROM q
)
SELECT doc_id, quality, tile,
       CAST(row_number() OVER (
            PARTITION BY tile
            ORDER BY md5(CAST(doc_id AS VARCHAR) || chr(31) || '7'), doc_id
       ) AS BIGINT) AS pos
FROM tiles
""",
)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction: quality-quartile tiers (best tier first)
    with a DETERMINISTIC shuffle inside each tier — ntile(4) over the
    rounded quality score, then md5-hash position (seeded, engine- and
    retry-stable like every sampling decision in operators/sampling.py),
    so training order is reproducible bit-for-bit. Scale note: the global
    ntile window is single-partition — fine for ranking bounded corpora;
    at corpus scale replace the tier assignment with approx-percentile
    cutoffs broadcast into a row-local CASE (same output contract), while
    the within-tier hash ordering is already partition-parallel."""
    d = t(spark, sf_dir, "documents")
    c = F.col("text")
    n = F.length(c)
    len_ok = F.when((n >= 50) & (n <= 10000), F.lit(1.0)).otherwise(F.lit(0.0))
    digit = F.length(F.regexp_replace(c, "[^0-9]", "")).cast("double") / F.greatest(
        n, F.lit(1)
    )
    sw = X.stopword_ratio(c)
    quality = F.round(
        0.4 * len_ok
        + 0.3 * (1 - F.least(digit * 5, F.lit(1.0)))
        + 0.3 * F.least(sw * 5, F.lit(1.0)),
        6,
    )
    q = d.select("doc_id", quality.alias("quality"))
    from pyspark.sql import Window as W

    tiled = q.withColumn(
        "tile",
        F.ntile(4).over(W.orderBy(F.desc("quality"), F.asc("doc_id"))).cast("long"),
    )
    shuffle_key = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit("\x1f"), F.lit("7"))
    )
    return tiled.withColumn(
        "pos",
        F.row_number()
        .over(W.partitionBy("tile").orderBy(shuffle_key, F.asc("doc_id")))
        .cast("long"),
    )


@register(
    "pack_training_sequences",
    f"""
WITH words AS (
    SELECT doc_id, {_DUCK_TOKS} AS w FROM documents
),
ch AS (
    SELECT doc_id, unnest(range(0, CAST(ceil(len(w) / 64.0) AS BIGINT))) AS chunk_id, w
    FROM words WHERE len(w) > 0
),
chunks AS (
    SELECT doc_id, chunk_id, doc_id % 8 AS shard,
           len(w[chunk_id * 64 + 1 : chunk_id * 64 + 64]) AS n_chunk_tokens
    FROM ch
),
packed AS (
    SELECT shard, doc_id, chunk_id, n_chunk_tokens,
           CAST(floor((sum(n_chunk_tokens) OVER (
                PARTITION BY shard ORDER BY doc_id, chunk_id
                ROWS UNBOUNDED PRECEDING) - n_chunk_tokens) / 256.0) AS BIGINT) AS seq_id
    FROM chunks
)
SELECT shard, seq_id,
       count(*) AS n_chunks,
       CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
       count(DISTINCT doc_id) AS n_docs
FROM packed GROUP BY shard, seq_id
""",
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/text.py pack_sequences): 64-token chunks
    pack greedily into ~256-token training sequences within 8 id-bucket
    shards — a new sequence starts exactly when the preceding chunks fill
    the budget, so every sequence is budget-sized with at most one chunk of
    boundary overflow. The window runs per shard (parallel, sequences never
    cross shards — the scale discipline); output is the per-sequence
    packing manifest (chunk/token/doc counts), integer-exact on both
    engines."""
    from s4hanaconnector_spark.operators.text import pack_sequences

    chunks = X.chunk_by_tokens(
        t(spark, sf_dir, "documents"), "text", "doc_id", chunk_size=64
    ).withColumn("shard", (F.col("doc_id") % 8).cast("long"))
    packed = pack_sequences(
        chunks, "n_chunk_tokens", ["doc_id", "chunk_id"], budget=256,
        shard_col="shard",
    )
    return packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_chunk_tokens").alias("n_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@register(
    "retrieval_rrf_fusion",
    f"""
WITH toks AS (
    SELECT doc_id, unnest({_DUCK_TOKS.replace('text', 'lower(text)')}) AS tok
    FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
corpus AS (SELECT sum(dl) AS total_dl, count(*) AS n_docs FROM dl),
hits AS (SELECT doc_id, tok FROM toks WHERE tok IN ('spark', 'shuffle', 'broadcast')),
idf AS (
    SELECT tok,
           ln((SELECT CAST(n_docs AS DOUBLE) FROM corpus) / count(DISTINCT doc_id)) AS idf
    FROM hits GROUP BY tok
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM hits GROUP BY 1, 2),
lex AS (
    SELECT tf.doc_id,
           round(sum(idf.idf * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) * CAST(corpus.n_docs AS DOUBLE) / CAST(corpus.total_dl AS DOUBLE))))), 6) AS bm25
    FROM tf
    JOIN idf USING (tok)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN corpus
    GROUP BY tf.doc_id
),
lexr AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank_a
    FROM lex
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
pairs AS (
    SELECT c.vec_id AS c_id, q.qv, c.embedding AS cv
    FROM q CROSS JOIN embeddings c WHERE c.vec_id <> 0
),
expl AS (SELECT c_id, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM pairs),
scored AS (SELECT c_id, round({_COS_DOT}, 6) AS cosine FROM expl GROUP BY c_id),
semr AS (
    SELECT c_id AS doc_id,
           CAST(row_number() OVER (ORDER BY cosine DESC, c_id) AS BIGINT) AS rank_b
    FROM scored
),
fused AS (
    SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.rank_a, s.rank_b,
           round(coalesce(1.0 / (60 + l.rank_a), 0) + coalesce(1.0 / (60 + s.rank_b), 0), 9) AS rrf_score
    FROM (SELECT * FROM lexr WHERE rank_a <= 100) l
    FULL OUTER JOIN (SELECT * FROM semr WHERE rank_b <= 100) s
      ON l.doc_id = s.doc_id
)
SELECT doc_id, rank_a, rank_b, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20
""",
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking fused with an embedding-cosine
    ranking by reciprocal-rank fusion (operators/text.py rrf_fuse) — the
    standard two-tower RAG first stage. BOTH rank lists are truncated at
    depth 100 (the standard RRF top-K-per-retriever contract, Cormack
    SIGIR'09) on BOTH engines — an unbounded semantic list would rank the
    whole corpus through one single-partition window sort (row_number over
    one query's partition), the straggler/OOM shape the similarity module
    exists to avoid. The top-100 instead comes from orderBy+limit —
    Spark's TakeOrderedAndProject, a distributed per-partition top-k with
    a driver merge, never a full sort — and only the 100 survivors see a
    window. Fusion is a wide full-outer join with the two 1/(60+rank)
    addends in fixed expression order, so the fused float is deterministic
    on both engines; both rank lists are depth-bounded, so every join here
    is broadcast-sized."""
    from pyspark.sql import Window as W

    from s4hanaconnector_spark.operators.text import rank_by_score, rrf_fuse

    DEPTH = 100
    d = t(spark, sf_dir, "documents")
    lex = X.bm25_search(d, "text", "doc_id", ["spark", "shuffle", "broadcast"])
    lexr = rank_by_score(lex, "bm25", "doc_id").filter(F.col("rank") <= DEPTH)

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("__qv"))
    c = e.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("__cv")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "c_id", F.round(S.cosine(F.col("__qv"), F.col("__cv")), 6).alias("cosine")
    )
    top = scored.orderBy(F.desc("cosine"), F.asc("c_id")).limit(DEPTH)
    sem = top.select(
        F.col("c_id").alias("doc_id"),
        F.row_number()
        .over(W.orderBy(F.desc("cosine"), F.asc("c_id")))
        .cast("long")
        .alias("rank"),
    )
    fused = rrf_fuse(lexr, sem, "doc_id", k=60)
    return (
        fused.select("doc_id", "rank_a", "rank_b", "rrf_score")
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "feature_zscore",
    """
WITH stats AS (
    SELECT lang, sum(n_chars) AS s, sum(n_chars * n_chars) AS ssq, count(*) AS n
    FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang,
       CASE WHEN stats.n * stats.ssq - stats.s * stats.s > 0
            THEN round((d.n_chars * stats.n - stats.s)
                       / sqrt(CAST(stats.n * stats.ssq - stats.s * stats.s AS DOUBLE)), 6)
       END AS z
FROM documents d JOIN stats USING (lang)
""",
)
def feature_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature standardization with EXACT integer moments:
    z = (x·n − Σx) / sqrt(n·Σx² − (Σx)²) is algebraically the population
    z-score, but every term before the final sqrt/divide is BIGINT
    arithmetic — no floating-point summation anywhere, so partition order
    cannot perturb the statistics and both engines take the same IEEE sqrt
    of the same integer. The per-group moment table broadcasts back into
    the probe; zero-variance groups emit NULL on both sides."""
    d = t(spark, sf_dir, "documents")
    x = F.col("n_chars")
    stats = d.groupBy("lang").agg(
        F.sum(x).alias("__s"),
        F.sum(x * x).alias("__ssq"),
        F.count(F.lit(1)).alias("__n"),
    )
    denom2 = F.col("__n") * F.col("__ssq") - F.col("__s") * F.col("__s")
    return d.join(F.broadcast(stats), on="lang").select(
        "doc_id",
        "lang",
        F.when(
            denom2 > 0,
            F.round((x * F.col("__n") - F.col("__s")) / F.sqrt(denom2.cast("double")), 6),
        ).alias("z"),
    )


@register(
    "histogram_doc_lengths",
    """
SELECT CAST(floor(n_chars / 100) AS BIGINT) AS bin,
       count(*) AS n_docs,
       min(n_chars) AS bin_min,
       max(n_chars) AS bin_max
FROM documents GROUP BY 1
""",
)
def histogram_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling: fixed-width (100-char) length histogram — the
    distribution check run before setting quality-filter thresholds. Pure
    integer bin arithmetic, one map-side-combined aggregation; output is
    |bins| rows regardless of corpus size."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.floor(F.col("n_chars") / 100).cast("bigint").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("bin_min"),
            F.max("n_chars").alias("bin_max"),
        )
    )


@register(
    "sample_stratified_by_lang",
    f"""
SELECT lang, count(*) AS n_docs
FROM documents
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || chr(31) || '7'), 1, 8))::BIGINT
      < CASE WHEN lang = 'en' THEN {int(0.1 * 16**8)} ELSE {int(0.5 * 16**8)} END
GROUP BY lang
""",
)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: downsample dominant English to 10% while keeping
    50% of every other language — per-stratum rates resolved row-locally
    (operators/sampling.py), single filter, no per-stratum passes."""
    from s4hanaconnector_spark.operators.sampling import stratified_hash_sample

    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        stratified_hash_sample(d, "lang", ["doc_id"], {"en": 0.1}, default_fraction=0.5, seed=7)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "text_clean_pipeline",
    f"""
SELECT doc_id, md5(array_to_string(
  list_transform(
    list_filter({_DUCK_TOKS.replace('text', 'lower(text)')},
                x -> NOT list_contains({_DUCK_SW}, x)),
    x -> CASE WHEN length(x) > 3 AND x LIKE '%s'
              THEN substr(x, 1, length(x) - 1) ELSE x END),
  ' ')) AS clean_md5
FROM documents
""",
)
def text_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level cleaning pipeline: lowercase -> tokenize -> stopword
    removal -> plural-strip stemming-lite -> rejoin, verified by md5 of
    the cleaned text. The whole chain is higher-order array functions
    (filter/transform) over ONE materialized token array — row-local,
    codegen'd, no shuffle; the shape generalizes to any per-token
    normalization an LLM-ingest pipeline applies."""
    from s4hanaconnector_spark.operators.text import ENGLISH_STOPWORDS, tokens

    d = t(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])
    toksed = d.select("doc_id", tokens(F.lower(F.col("text"))).alias("__w"))
    cleaned = F.transform(
        F.filter(F.col("__w"), lambda x: ~F.array_contains(sw, x)),
        lambda x: F.when(
            (F.length(x) > 3) & x.endswith("s"), F.substring(x, 1, F.length(x) - 1)
        ).otherwise(x),
    )
    return toksed.select(
        "doc_id", F.md5(F.concat_ws(" ", cleaned)).alias("clean_md5")
    )


@register(
    "sample_importance_weighted",
    f"""
SELECT doc_id, n_chars FROM documents
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || chr(31) || '42'), 1, 8))::BIGINT * 500
      < {16**8} * least(n_chars, 500)
""",
)
def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted corpus sampling (operators/sampling.py
    weighted_hash_sample): each document kept with probability
    min(1, n_chars/500) — longer documents are likelier to survive, the
    length-proportional upweighting used when balancing training
    mixtures. Accept decision is exact BIGINT cross-multiplication of the
    md5 bucket (no division, no randomness) — identical selection on any
    engine, partitioning or rerun."""
    from s4hanaconnector_spark.operators.sampling import weighted_hash_sample

    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_hash_sample(d, ["doc_id"], "n_chars", max_weight=500, seed=42)


@register(
    "mixture_token_budget",
    f"""
WITH words AS (
    SELECT doc_id, source, len({_DUCK_TOKS}) AS n_toks FROM documents
),
per AS (SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM words GROUP BY source),
ns AS (SELECT count(*) AS n_sources FROM per)
SELECT source, n_docs, n_tokens,
       round(1000000.0 / ns.n_sources / n_tokens, 6) AS epochs_for_equal_share
FROM per, ns
""",
)
def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture planning: per-source document and token counts
    plus the repetition factor (epochs) each source needs to contribute an
    equal share of a 1M-token budget — the arithmetic behind mixture
    weights in pre-training data recipes. Token counts are exact integers;
    the single division chain mirrors the oracle's operation order before
    the 6-digit round. One aggregation on source; the 1-row source count
    broadcasts."""
    from s4hanaconnector_spark.operators.text import tokens

    d = t(spark, sf_dir, "documents")
    per = (
        d.select("source", F.size(tokens(F.col("text"))).alias("__nt"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("__nt").alias("n_tokens"))
    )
    ns = per.agg(F.count(F.lit(1)).alias("__n_sources"))
    return per.crossJoin(F.broadcast(ns)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.lit(1000000.0) / F.col("__n_sources") / F.col("n_tokens"), 6
        ).alias("epochs_for_equal_share"),
    )


@register(
    "dedup_keep_best",
    f"""
WITH RECURSIVE {DOCS_AUG_CTE.strip()},
{_SHINGLES_CTE.strip()},
{_JACCARD_EDGE_CTES.strip()},
reach AS (
    SELECT doc_id AS id, doc_id AS comp FROM docs_aug
    UNION
    SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id
),
lab AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
q AS (
    SELECT doc_id,
           round(0.4 * ({_DUCK_LEN_OK})
               + 0.3 * (1 - least(({_DUCK_DIGIT}) * 5, 1.0))
               + 0.3 * least(({_DUCK_SW_RATIO}) * 5, 1.0), 6) AS quality
    FROM docs_aug
),
ranked AS (
    SELECT l.component, l.id, q.quality,
           row_number() OVER (PARTITION BY l.component
                              ORDER BY q.quality DESC, l.id) AS rn,
           count(*) OVER (PARTITION BY l.component) AS cluster_size
    FROM lab l JOIN q ON q.doc_id = l.id
)
SELECT component, cluster_size, id AS keep_doc_id, quality AS keep_quality
FROM ranked WHERE rn = 1
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19 terminal rung, production flavor: per near-dup cluster keep the
    HIGHEST-QUALITY document, not the smallest id — the policy real
    pretraining dedup applies (near-dup groups keep the cleanest copy).
    Clusters come from the same fingerprint + exact-Jaccard edges as
    dedup_clusters (full transitive closure via distributed connected
    components); the keeper is a per-cluster argmax over the rounded
    quality score with an id tiebreak. One window over cluster ids —
    cluster count is corpus-bounded and the per-cluster state is the
    member list, already delta-sized by LSH pruning upstream."""
    from pyspark.sql import Window as W

    from s4hanaconnector_spark.operators.graph import connected_components
    from s4hanaconnector_spark.operators.text import fingerprint, quality_score

    d = docs_aug(spark, sf_dir)
    fpt = d.select("doc_id", fingerprint(F.col("text")).alias("f"))
    fpe = fpt.select(
        F.col("doc_id").alias("src"),
        F.min("doc_id").over(W.partitionBy("f")).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    jpe = D.jaccard_pairs(d, "text", "doc_id", threshold=0.5, df_cap=128).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components(
        fpe.unionAll(jpe), nodes=d.select("doc_id"), id_col="doc_id"
    )
    q = d.select("doc_id", F.round(quality_score(F.col("text")), 6).alias("quality"))
    j = labels.join(q, labels["id"] == q["doc_id"]).select(
        "component", "id", "quality"
    )
    w = W.partitionBy("component").orderBy(F.desc("quality"), F.asc("id"))
    wc = W.partitionBy("component")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            "cluster_size",
            F.col("id").alias("keep_doc_id"),
            F.col("quality").alias("keep_quality"),
        )
    )


@register(
    "lm_fluency_scores",
    f"""
WITH toks AS (
    SELECT doc_id,
           unnest({_DUCK_TOKS.replace('text', 'lower(text)')}) AS w,
           generate_subscripts({_DUCK_TOKS.replace('text', 'lower(text)')}, 1) AS pos
    FROM documents
),
big AS (
    SELECT doc_id,
           lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
           w AS w2
    FROM toks
    QUALIFY w1 IS NOT NULL
),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
c1 AS (SELECT w AS w1, count(*) AS c1 FROM toks GROUP BY 1),
v AS (SELECT count(DISTINCT w) AS v FROM toks),
lp AS (
    SELECT c12.w1, c12.w2,
           CAST(round(ln(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + v.v)), 6) AS DECIMAL(18,6)) AS lp
    FROM c12 JOIN c1 USING (w1) CROSS JOIN v
)
SELECT b.doc_id,
       count(*) AS n_bigrams,
       round(CAST(sum(lp.lp) AS DOUBLE) / count(*), 6) AS avg_logp
FROM big b JOIN lp ON lp.w1 = b.w1 AND lp.w2 = b.w2
GROUP BY b.doc_id
""",
)
def lm_fluency_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based fluency filter (operators/text.py bigram_lm_scores): the
    engine-native version of the KenLM perplexity gate pretraining
    pipelines (CCNet-style) run on every document — an add-one-smoothed
    bigram model trained on the corpus itself scores each doc's mean
    log-probability. Determinism comes from rounding each bigram's libm
    log BEFORE the sum and accumulating in exact DECIMAL, so the per-doc
    sum is partition-order-free; the oracle replays the identical model
    and fold."""
    return X.bigram_lm_scores(t(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# round 4: incremental corpus dedup, int8 similarity, leakage-free splits
# ---------------------------------------------------------------------------

# A synthesized ingest batch against the documents corpus: corpus copies
# (verbatim + case-variant), genuinely new docs, and a within-batch twin
# pair — every status class of incremental_dedup appears.
BATCH_CTE = """
batch AS (
    SELECT doc_id + 400000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0
    UNION ALL
    SELECT doc_id + 800000, upper(text) FROM documents WHERE doc_id % 29 = 0
    UNION ALL
    SELECT doc_id + 500000, text || ' fresh suffix xyz' FROM documents WHERE doc_id % 17 = 0
    UNION ALL
    SELECT doc_id + 600000, text || ' batch twin' FROM documents WHERE doc_id % 23 = 0
    UNION ALL
    SELECT doc_id + 700000, text || ' batch twin' FROM documents WHERE doc_id % 23 = 0
)
"""


def batch_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    legs = [
        d.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 400000).alias("doc_id"), "text"
        ),
        d.filter(F.col("doc_id") % 29 == 0).select(
            (F.col("doc_id") + 800000).alias("doc_id"), F.upper("text").alias("text")
        ),
        d.filter(F.col("doc_id") % 17 == 0).select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" fresh suffix xyz")).alias("text"),
        ),
        d.filter(F.col("doc_id") % 23 == 0).select(
            (F.col("doc_id") + 600000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" batch twin")).alias("text"),
        ),
        d.filter(F.col("doc_id") % 23 == 0).select(
            (F.col("doc_id") + 700000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" batch twin")).alias("text"),
        ),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


@register(
    "dedup_incremental_corpus",
    f"""
WITH {BATCH_CTE.strip()},
cfp AS (
    SELECT md5({_NORM}) AS fp, min(doc_id) AS corpus_canonical
    FROM documents GROUP BY 1
),
bfp AS (SELECT doc_id AS batch_id, md5({_NORM}) AS fp FROM batch),
bmin AS (SELECT fp, min(batch_id) AS batch_min FROM bfp GROUP BY fp)
SELECT b.batch_id,
       CASE WHEN c.corpus_canonical IS NOT NULL THEN 'dup_of_corpus'
            WHEN m.batch_min < b.batch_id THEN 'dup_in_batch'
            ELSE 'new' END AS status,
       CASE WHEN c.corpus_canonical IS NOT NULL THEN c.corpus_canonical
            WHEN m.batch_min < b.batch_id THEN m.batch_min
            ELSE b.batch_id END AS canonical_id
FROM bfp b LEFT JOIN cfp c USING (fp) JOIN bmin m USING (fp)
""",
    headline=True,
)
def dedup_incremental_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup — the continuous-corpus-building
    shape: classify each new-batch doc as dup_of_corpus / dup_in_batch /
    new by normalized fingerprint, WITHOUT re-shuffling the corpus (one
    corpus scan, broadcast batch fingerprints, broadcast hit table back —
    operators/dedup.py incremental_dedup). The oracle replays the same
    classification with plain joins."""
    corpus = t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.incremental_dedup(corpus, batch_docs(spark, sf_dir), "text", "doc_id")


# per-vector symmetric int8 quantization of the corpus embedding (DuckDB)
_CQ_CTE = """
cq AS (
    SELECT vec_id AS c_id,
           list_transform(embedding, x -> CASE WHEN mx = 0 THEN 0
               ELSE CAST(round(127.0 * CAST(x AS DOUBLE) / mx) AS INTEGER) END) AS cv
    FROM (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        FROM embeddings
    )
)
"""


@register(
    "similarity_topk_int8",
    f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
{_CQ_CTE.strip()},
pairs AS (
    SELECT q.q_id, c.c_id, q.qv, c.cv FROM q CROSS JOIN cq c WHERE c.c_id <> q.q_id
),
expl AS (SELECT q_id, c_id, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM pairs),
scored AS (
    SELECT q_id, c_id, round({_COS_DOT}, 6) AS cosine FROM expl GROUP BY q_id, c_id
),
ranked AS (
    SELECT q_id, c_id, cosine,
           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
    FROM scored
)
SELECT q_id, c_id, cosine, rn FROM ranked WHERE rn <= 10
""",
    headline=True,
)
def similarity_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric int8 top-k (operators/similarity.py quantized_topk): the
    corpus is scanned quantized (4x fewer bytes — the memory-vs-disk line
    for a 100 TB index), queries stay float; per-vector scales cancel in
    cosine so no dequantization step exists. Same no-corpus-shuffle plan
    as the exact rung."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return S.quantized_topk(q, c, k=10)


@register(
    "similarity_int8_recall",
    f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
bfp AS (
    SELECT q.q_id, c.vec_id AS c_id, q.qv, c.embedding AS cv
    FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.q_id
),
bfx AS (SELECT q_id, c_id, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM bfp),
bfs AS (SELECT q_id, c_id, round({_COS_DOT}, 6) AS cosine FROM bfx GROUP BY q_id, c_id),
bf AS (
    SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
        FROM bfs
    ) WHERE rn <= 10
),
{_CQ_CTE.strip()},
qp AS (
    SELECT q.q_id, c.c_id, q.qv, c.cv FROM q CROSS JOIN cq c WHERE c.c_id <> q.q_id
),
qx AS (SELECT q_id, c_id, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM qp),
qs AS (SELECT q_id, c_id, round({_COS_DOT}, 6) AS cosine FROM qx GROUP BY q_id, c_id),
qt AS (
    SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
        FROM qs
    ) WHERE rn <= 10
)
SELECT bf.q_id, count(*) AS n_exact, count(qt.c_id) AS n_hit
FROM bf LEFT JOIN qt ON bf.q_id = qt.q_id AND bf.c_id = qt.c_id
GROUP BY bf.q_id
""",
)
def similarity_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the int8-quantized rung vs the exact float rung, as
    exact integer counts under the hash gate — quantization loss is a
    MEASURED contract, not a hope. The function asserts an aggregate
    recall floor (>= 90% — calibrated against the measured minimum
    across sf0.001/0.01/0.1/sf1: 100/100/98/100%; int8 loses far less
    than coarse IVF probing), so a quantizer regression fails loudly."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    bf = S.brute_force_topk(q, c, k=10).select("q_id", "c_id")
    qk = S.quantized_topk(q, c, k=10).select(
        F.col("q_id").alias("iq"), F.col("c_id").alias("ic")
    )
    out = (
        # both sides are k x |queries| rows; broadcast the quantized side so
        # the comparison never sort-merges
        bf.join(
            F.broadcast(qk),
            (F.col("q_id") == F.col("iq")) & (F.col("c_id") == F.col("ic")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_exact"), F.count(F.col("ic")).alias("n_hit"))
    )
    # lineage cut before the gate's aggregate: without it the full
    # brute-force + approximate DAG executes TWICE (once for the totals
    # collect, once when the caller consumes the returned frame)
    out = out.localCheckpoint(eager=False)
    totals = out.agg(F.sum("n_exact").alias("e"), F.sum("n_hit").alias("h")).collect()[0]
    # explicit raise: the gate must survive `python -O` (see IVF gate)
    if totals["h"] * 100 < totals["e"] * 90:
        raise AssertionError(
            f"int8 recall regression: {totals['h']}/{totals['e']} below 90%"
        )
    return out


# the IVF assignment pipeline (deterministic prefix quantizer, 16 cells,
# 4-probe) shared by the two IVF×SQ8 queries below — identical text to the
# similarity_topk_ivf CTEs so the composed index is provably the same index
_IVF_CELLS_CTE = f"""
cent AS (
    SELECT vec_id AS cent_id, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 16
),
ax AS (
    SELECT e.vec_id, e.embedding AS qv, c.cent_id, c.cv,
           unnest(range(1, len(e.embedding) + 1)) AS i
    FROM embeddings e CROSS JOIN cent c
),
aff AS (
    SELECT vec_id, cent_id, round({_COS_DOT}, 6) AS aff
    FROM ax GROUP BY vec_id, cent_id
),
rankedc AS (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY aff DESC, cent_id) AS rn
    FROM aff
),
cells AS (SELECT vec_id AS c_id, cent_id AS cell FROM rankedc WHERE rn = 1),
probes AS (SELECT vec_id AS q_id, cent_id AS cell FROM rankedc WHERE rn <= 4 AND vec_id < 5)
"""

# candidate generation + int8 rescore shared by both IVF×SQ8 queries:
# float cell assignment, quantized candidate vectors (asymmetric distance)
_IVF_INT8_TOPK_CTE = f"""
cand AS (
    SELECT p.q_id, c.c_id, qe.embedding AS qv, ce.cv AS cv
    FROM probes p
    JOIN cells c ON c.cell = p.cell AND c.c_id <> p.q_id
    JOIN embeddings qe ON qe.vec_id = p.q_id
    JOIN cq ce ON ce.c_id = c.c_id
),
cx AS (SELECT q_id, c_id, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM cand),
scoredq AS (
    SELECT q_id, c_id, round({_COS_DOT}, 6) AS cosine
    FROM cx GROUP BY q_id, c_id
),
topq AS (
    SELECT q_id, c_id, cosine,
           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
    FROM scoredq
)
"""


@register(
    "similarity_topk_ivf_int8",
    f"""
WITH {_IVF_CELLS_CTE.strip()},
{_CQ_CTE.strip()},
{_IVF_INT8_TOPK_CTE.strip()}
SELECT q_id, c_id, cosine, rn FROM topq WHERE rn <= 10
""",
    headline=True,
)
def similarity_topk_ivf_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 composed rung: IVF cells × int8 rescore —
    the FAISS ``IVFx,SQ8`` shape a real 100 TB ANN stack ships. Cell
    assignment runs on float vectors (build-time quantizer fidelity), the
    probe rescans only 4-of-16 cells, and every candidate it rescans is
    the per-vector symmetric int8 code: ¼ the candidate bytes ON TOP of
    the ~4× comparison cut from probing, queries stay float (asymmetric
    distance), per-vector scales cancel in cosine so there is no decode
    step. Plan shape is unchanged from the plain IVF rung — broadcast
    probes, zero corpus shuffle — the quantization is one extra row-local
    projection on the candidate side."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return S.ivf_topk(q, c, k=10, n_centroids=16, n_probe=4, rescore="int8")


@register(
    "similarity_ivf_int8_recall",
    f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
bfp AS (
    SELECT q.q_id, c.vec_id AS c_id, q.qv, c.embedding AS cv
    FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.q_id
),
bfx AS (SELECT q_id, c_id, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM bfp),
bfs AS (SELECT q_id, c_id, round({_COS_DOT}, 6) AS cosine FROM bfx GROUP BY q_id, c_id),
bf AS (
    SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
        FROM bfs
    ) WHERE rn <= 10
),
{_IVF_CELLS_CTE.strip()},
{_CQ_CTE.strip()},
{_IVF_INT8_TOPK_CTE.strip()},
iq AS (SELECT q_id, c_id FROM topq WHERE rn <= 10)
SELECT bf.q_id, count(*) AS n_exact, count(iq.c_id) AS n_hit
FROM bf LEFT JOIN iq ON bf.q_id = iq.q_id AND bf.c_id = iq.c_id
GROUP BY bf.q_id
""",
)
def similarity_ivf_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the composed IVF×SQ8 rung vs the EXACT float rung, as
    exact integer counts under the hash gate. Composition loss is bounded
    by its parts — the IVF probe miss (gated >= 80%) plus the int8
    quantization miss (gated >= 90%) — and measured across
    sf0.001/0.01/0.1 at 88/92/98% (plain IVF measured 88/92/100% at
    the same tiers, i.e. the int8 stage costs at most one hit), so the
    composed rung asserts the SAME >= 80% aggregate floor: a regression
    in either stage fails this gate loudly."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    bf = S.brute_force_topk(q, c, k=10).select("q_id", "c_id")
    iv = S.ivf_topk(q, c, k=10, n_centroids=16, n_probe=4, rescore="int8").select(
        F.col("q_id").alias("iq"), F.col("c_id").alias("ic")
    )
    out = (
        # both sides are k x |queries| rows; broadcast the composed side so
        # the comparison never sort-merges
        bf.join(
            F.broadcast(iv),
            (F.col("q_id") == F.col("iq")) & (F.col("c_id") == F.col("ic")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_exact"), F.count(F.col("ic")).alias("n_hit"))
    )
    # lineage cut before the gate's aggregate (see similarity_int8_recall)
    out = out.localCheckpoint(eager=False)
    totals = out.agg(F.sum("n_exact").alias("e"), F.sum("n_hit").alias("h")).collect()[0]
    # explicit raise: the gate must survive `python -O` (see IVF gate)
    if totals["h"] * 100 < totals["e"] * 80:
        raise AssertionError(
            f"ivf+int8 recall regression: {totals['h']}/{totals['e']} below 80%"
        )
    return out


# --------------------------------------------------------------------------
# Product quantization (PQ) rung: the 16-32x compression step of the ANN
# ladder. The oracle replays the whole pipeline — deterministic prefix
# codebooks, per-subspace rounded-L2 argmin encode, asymmetric
# reconstruction scoring, top-R candidates, exact float rerank.
# --------------------------------------------------------------------------

_PQ_M, _PQ_CODES, _PQ_RERANK = 16, 32, 100

# shared SQL pipeline: q -> pqbase (prefix codebooks) -> enc (per-subspace
# code argmin) -> scorex (asymmetric reconstruction dot/norm) -> pqcand
# (top-R on rounded PQ cosine) -> rrs (exact rerank cosine).
# Split into ENCODE / SCORERAW / TAIL pieces so the plain-PQ rungs and the
# composed IVF x PQ rungs share every CTE except candidate generation.
_PQ_ENC_CTE = f"""
q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
pqbase AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding AS bv
    FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_PQ_CODES})
),
encraw AS (
    SELECT e.vec_id AS c_id, b.code, b.bv, e.embedding AS ev,
           unnest(range(1, len(e.embedding) + 1)) AS i
    FROM embeddings e CROSS JOIN pqbase b
),
encx AS (
    SELECT c_id, code, (i - 1) // (len(bv) // {_PQ_M}) AS sub,
           sum((CAST(ev[i] AS DOUBLE) - CAST(bv[i] AS DOUBLE))
               * (CAST(ev[i] AS DOUBLE) - CAST(bv[i] AS DOUBLE))) AS dist
    FROM encraw GROUP BY 1, 2, 3
),
enc AS (
    SELECT c_id, sub, code FROM (
        SELECT c_id, sub, code,
               row_number() OVER (PARTITION BY c_id, sub
                                  ORDER BY round(dist, 6), code) AS rn
        FROM encx
    ) WHERE rn = 1
)
"""

# candidate generation, plain-PQ shape: every (query, corpus) pair scores
_PQ_SCORERAW_CTE = f"""
scoreraw AS (
    SELECT q_id, c_id, sub, i, (i - 1) // (len(bv) // {_PQ_M}) AS sub_i,
           CAST(qv[i] AS DOUBLE) AS qi, CAST(bv[i] AS DOUBLE) AS bi
    FROM (
        SELECT qq.q_id, e.c_id, qq.qv, b.bv, e.sub,
               unnest(range(1, len(qq.qv) + 1)) AS i
        FROM enc e JOIN pqbase b ON b.code = e.code CROSS JOIN q qq
        WHERE qq.q_id <> e.c_id
    )
)
"""

# candidate generation, IVF x PQ shape: only pairs whose corpus vector sits
# in one of the query's probed cells ever score (cells/probes come from
# _IVF_CELLS_CTE — the SAME index as the plain IVF rungs)
_IVF_PQ_SCORERAW_CTE = f"""
ivfcand AS (
    SELECT p.q_id, c.c_id
    FROM probes p JOIN cells c ON c.cell = p.cell AND c.c_id <> p.q_id
),
scoreraw AS (
    SELECT q_id, c_id, sub, i, (i - 1) // (len(bv) // {_PQ_M}) AS sub_i,
           CAST(qv[i] AS DOUBLE) AS qi, CAST(bv[i] AS DOUBLE) AS bi
    FROM (
        SELECT ca.q_id, e.c_id, qq.qv, b.bv, e.sub,
               unnest(range(1, len(qq.qv) + 1)) AS i
        FROM enc e
        JOIN ivfcand ca ON ca.c_id = e.c_id
        JOIN pqbase b ON b.code = e.code
        JOIN q qq ON qq.q_id = ca.q_id
    )
)
"""

_PQ_TAIL_CTE = f"""
scorex AS (
    -- CASE instead of WHERE sub_i = sub: a filter between the unnest and
    -- this aggregate trips a DuckDB internal binder assertion; adding
    -- exact 0.0 terms leaves the float sums bit-identical
    SELECT q_id, c_id,
           sum(CASE WHEN sub_i = sub THEN qi * bi ELSE 0.0 END) AS dotqr,
           sum(CASE WHEN sub_i = sub THEN bi * bi ELSE 0.0 END) AS rn2
    FROM scoreraw GROUP BY 1, 2
),
qn AS (
    SELECT q_id, sqrt(sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) AS qnorm
    FROM (SELECT q_id, qv, unnest(range(1, len(qv) + 1)) AS i FROM q)
    GROUP BY 1
),
pqcand AS (
    SELECT q_id, c_id FROM (
        SELECT s.q_id, s.c_id,
               row_number() OVER (
                   PARTITION BY s.q_id
                   ORDER BY round(s.dotqr / (qn.qnorm * sqrt(s.rn2)), 6) DESC,
                            s.c_id) AS rn
        FROM scorex s JOIN qn USING (q_id)
    ) WHERE rn <= {_PQ_RERANK}
),
rrx AS (
    SELECT p.q_id, p.c_id, qq.qv, ce.embedding AS cv,
           unnest(range(1, len(qq.qv) + 1)) AS i
    FROM pqcand p JOIN q qq USING (q_id) JOIN embeddings ce ON ce.vec_id = p.c_id
),
rrs AS (SELECT q_id, c_id, round({_COS_DOT}, 6) AS cosine FROM rrx GROUP BY q_id, c_id),
pqtop AS (
    SELECT q_id, c_id, cosine,
           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
    FROM rrs
)
"""

_PQ_PIPE = (
    _PQ_ENC_CTE.strip() + ",\n" + _PQ_SCORERAW_CTE.strip() + ",\n"
    + _PQ_TAIL_CTE.strip()
)

_IVF_PQ_PIPE = (
    _IVF_CELLS_CTE.strip() + ",\n" + _PQ_ENC_CTE.strip() + ",\n"
    + _IVF_PQ_SCORERAW_CTE.strip() + ",\n" + _PQ_TAIL_CTE.strip()
)


@register(
    "similarity_topk_pq",
    f"""
WITH {_PQ_PIPE.strip()}
SELECT q_id, c_id, cosine, rn FROM pqtop WHERE rn <= 10
""",
    headline=True,
)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 compression rung 3 (after int8 SQ): product quantization + exact
    rerank (FAISS ``PQm`` + refine; Jégou et al. TPAMI'11). The corpus is
    scanned in its CODE form — 16 subspaces × 1 code byte vs 64 float32s,
    16-32× fewer bytes, the difference between a memory-resident and a
    disk-bound index at 100 TB — to produce 100 candidates per query; only
    those |Q|×100 rows have their float vectors fetched and exactly
    rescored. The codebook (KiB-scale) ships in the task closure; encode
    and PQ scoring are one row-local mapInArrow pass; the corpus never
    shuffles.
    Deterministic prefix codebooks (the same rule as the IVF quantizer) so
    the oracle replays encode→score→top-R→rerank bit-for-bit."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return S.pq_rerank_topk(
        q, c, k=10, rerank=_PQ_RERANK, m=_PQ_M, n_codes=_PQ_CODES
    )


@register(
    "similarity_pq_recall",
    f"""
WITH bfp AS (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.embedding AS qv, c.embedding AS cv
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
),
bfx AS (SELECT q_id, c_id, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM bfp),
bfs AS (SELECT q_id, c_id, round({_COS_DOT}, 6) AS cosine FROM bfx GROUP BY q_id, c_id),
bf AS (
    SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
        FROM bfs
    ) WHERE rn <= 10
),
{_PQ_PIPE.strip()},
pq AS (SELECT q_id, c_id FROM pqtop WHERE rn <= 10)
SELECT bf.q_id, count(*) AS n_exact, count(pq.c_id) AS n_hit
FROM bf LEFT JOIN pq ON bf.q_id = pq.q_id AND bf.c_id = pq.c_id
GROUP BY bf.q_id
""",
)
def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PQ+rerank rung vs the exact float rung, as exact
    integer counts under the hash gate. Raw PQ scoring is deliberately
    lossy (measured 32-56% recall@10 on the fixture corpus depending on
    m/codes) — the rerank recovers it because recall@100 of the code scan
    is 92-96%; measured end-to-end across sf0.001/0.01/0.1 at 98/96/86%,
    gated at the same >= 80% aggregate floor as the IVF rungs."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    bf = S.brute_force_topk(q, c, k=10).select("q_id", "c_id")
    pq = S.pq_rerank_topk(
        q, c, k=10, rerank=_PQ_RERANK, m=_PQ_M, n_codes=_PQ_CODES
    ).select(F.col("q_id").alias("iq"), F.col("c_id").alias("ic"))
    out = (
        bf.join(
            F.broadcast(pq),
            (F.col("q_id") == F.col("iq")) & (F.col("c_id") == F.col("ic")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_exact"), F.count(F.col("ic")).alias("n_hit"))
    )
    # lineage cut before the gate's aggregate (see similarity_int8_recall)
    out = out.localCheckpoint(eager=False)
    totals = out.agg(F.sum("n_exact").alias("e"), F.sum("n_hit").alias("h")).collect()[0]
    # explicit raise: the gate must survive `python -O` (see IVF gate)
    if totals["h"] * 100 < totals["e"] * 80:
        raise AssertionError(
            f"pq recall regression: {totals['h']}/{totals['e']} below 80%"
        )
    return out


@register(
    "similarity_topk_ivf_pq",
    f"""
WITH {_IVF_PQ_PIPE}
SELECT q_id, c_id, cosine, rn FROM pqtop WHERE rn <= 10
""",
    headline=True,
)
def similarity_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 full production composition — FAISS ``IVFx,PQy`` + refine
    (IVFADC, Jégou et al. TPAMI'11): IVF cells prune the SEARCH (4-of-16
    cells rescanned per query), PQ codes compress the STORAGE (every
    rescanned candidate is 16 code bytes, not 64 float32s), and the top-100
    PQ candidates are exactly rescored from their floats. The stack that is
    simultaneously memory-resident AND sublinear-per-query at a billion
    vectors — neither rung alone is. One corpus pass assigns cells and
    encodes codes; probes and codebook broadcast; the corpus never shuffles
    (operators/similarity.py ivf_pq_topk). Same deterministic prefix
    quantizer and codebooks as the component rungs, so the oracle replays
    the composed index bit for bit."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return S.ivf_pq_topk(
        q, c, k=10, n_centroids=16, n_probe=4,
        m=_PQ_M, n_codes=_PQ_CODES, rerank=_PQ_RERANK,
    )


@register(
    "similarity_ivf_pq_recall",
    f"""
WITH bfp AS (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.embedding AS qv, c.embedding AS cv
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
),
bfx AS (SELECT q_id, c_id, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM bfp),
bfs AS (SELECT q_id, c_id, round({_COS_DOT}, 6) AS cosine FROM bfx GROUP BY q_id, c_id),
bf AS (
    SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
        FROM bfs
    ) WHERE rn <= 10
),
{_IVF_PQ_PIPE},
ivfpq AS (SELECT q_id, c_id FROM pqtop WHERE rn <= 10)
SELECT bf.q_id, count(*) AS n_exact, count(ivfpq.c_id) AS n_hit
FROM bf LEFT JOIN ivfpq ON bf.q_id = ivfpq.q_id AND bf.c_id = ivfpq.c_id
GROUP BY bf.q_id
""",
)
def similarity_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the composed IVFADC rung vs the EXACT float rung, as
    exact integer counts under the hash gate. Composition loss is bounded
    by its separately-gated parts — the IVF probe miss (>= 80% gate) and
    the PQ shortlist miss (>= 80% gate) — and measured across
    sf0.001/0.01/0.1 at 88/92/94% (plain IVF measured 88/92/100% at
    the same tiers, i.e. the PQ stage costs at most three hits), so
    the composed rung asserts a >= 75% aggregate floor: a regression in
    either stage fails loudly while honest composition noise does not."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    bf = S.brute_force_topk(q, c, k=10).select("q_id", "c_id")
    iv = S.ivf_pq_topk(
        q, c, k=10, n_centroids=16, n_probe=4,
        m=_PQ_M, n_codes=_PQ_CODES, rerank=_PQ_RERANK,
    ).select(F.col("q_id").alias("iq"), F.col("c_id").alias("ic"))
    out = (
        bf.join(
            F.broadcast(iv),
            (F.col("q_id") == F.col("iq")) & (F.col("c_id") == F.col("ic")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_exact"), F.count(F.col("ic")).alias("n_hit"))
    )
    # lineage cut before the gate's aggregate (see similarity_int8_recall)
    out = out.localCheckpoint(eager=False)
    totals = out.agg(F.sum("n_exact").alias("e"), F.sum("n_hit").alias("h")).collect()[0]
    # explicit raise: the gate must survive `python -O` (see IVF gate)
    if totals["h"] * 100 < totals["e"] * 75:
        raise AssertionError(
            f"ivf+pq recall regression: {totals['h']}/{totals['e']} below 75%"
        )
    return out


# one persisted IVFADC index per (sf_dir, params) per process: repeated
# invocations (bench best-of-3 reps, parity reruns, the SemDeDup-on-index
# rung) probe the SAME on-disk index instead of building a new temp copy
# each time (a copy per call grows temp dirs without bound and puts build
# cost inside the registered query's wall)
_ANN_INDEX_CACHE: dict[tuple, str] = {}


def _scratch_dir(name: str, sf_dir: str, wipe: bool = True) -> str:
    """A REUSED scratch directory per (query, sf_dir) per process for the
    index-lifecycle queries (stream ingest / compact / incremental dedup).
    These queries MUTATE an on-disk index, so unlike the probe rung they
    cannot share one cached build — but a fresh ``mkdtemp`` per invocation
    leaked a full index copy every bench rep.
    Instead each invocation wipes and rebuilds the SAME directory (the
    fresh-state contract the lifecycle requires, disk flat across reps),
    and the whole root is removed at interpreter exit (:func:`scratch_root`)."""
    import hashlib
    import os
    import re
    import shutil

    # slug is for humans; the md5 suffix makes distinct sf_dirs that
    # sanitize identically ('/a/b' vs '/a_b') land in distinct dirs — a
    # collision would let one dataset's wipe-and-rebuild silently replace
    # another's cached index
    slug = re.sub(r"[^A-Za-z0-9._-]+", "_", sf_dir).strip("_")
    d = os.path.join(
        scratch_root(), name,
        f"{slug}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    if wipe and os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(d, exist_ok=True)
    return d


def _cached_ann_index(
    spark: SparkSession, sf_dir: str, n_centroids: int = 16
) -> str:
    """Build (once per process) and return the path of the persisted
    IVFADC index over ``sf_dir``'s embeddings with the deterministic
    prefix quantizer/codebooks the oracles replay."""

    from s4hanaconnector_spark.operators.similarity import build_ann_index

    key = (sf_dir, n_centroids, _PQ_M, _PQ_CODES)
    path = _ANN_INDEX_CACHE.get(key)
    if path is not None:
        return path
    c = t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("c_id"), "embedding"
    )
    # under the atexit-cleaned scratch root; wipe=True also clears any
    # half-written build a previous crashed process left behind
    path = _scratch_dir(f"ann_index_{n_centroids}", sf_dir)
    build_ann_index(
        c, path, n_centroids=n_centroids, m=_PQ_M, n_codes=_PQ_CODES,
        c_id="c_id", vec="embedding",
    )
    _ANN_INDEX_CACHE[key] = path
    return path


def _cached_aug_ann_index(spark: SparkSession, sf_dir: str) -> str:
    """Like :func:`_cached_ann_index` but resident over the AUGMENTED
    embedding fixture (emb_aug — the near-dup-planted corpus the SemDeDup
    oracles replay), keyed by ``vec_id``: the from-index dedup rungs need
    the index to HOLD the dedup corpus, not just share its quantizer."""
    from s4hanaconnector_spark.operators.similarity import build_ann_index

    key = (sf_dir, "aug16", _PQ_M, _PQ_CODES)
    path = _ANN_INDEX_CACHE.get(key)
    if path is not None:
        return path
    path = _scratch_dir("ann_index_aug16", sf_dir)
    build_ann_index(
        emb_aug(spark, sf_dir), path, n_centroids=16, m=_PQ_M,
        n_codes=_PQ_CODES, c_id="vec_id", vec="embedding",
    )
    _ANN_INDEX_CACHE[key] = path
    return path


@register(
    "similarity_index_probe",
    f"""
WITH {_IVF_PQ_PIPE}
SELECT q_id, c_id, cosine, rn FROM pqtop WHERE rn <= 10
""",
)
def similarity_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 PERSISTED-index rung: the IVFADC index is BUILT to disk once
    (centroids + PQ codes + vectors as parquet ``partitionBy(__cell)`` —
    the inverted-file layout on a data lake) and the query probes it
    without touching the corpus: the probed cell ids become a partition
    filter, so Spark PARTITION PRUNING reads only 4-of-16 cells' files —
    the on-disk inverted-list scan of a production ANN service
    (operators/similarity.py build_ann_index / probe_ann_index;
    plan-tested for PartitionFilters). Results are bit-identical to the
    inline ``similarity_topk_ivf_pq`` rung — same quantizer, codebooks,
    ADC expression and rerank — which is exactly what this oracle
    replays. The build is cached per (sf_dir, params) within the process:
    bench reps and test repetitions reuse ONE on-disk index
    instead of leaking a fresh temp copy per invocation — also the honest
    serving-path measurement, since build cost is amortized ingest cost,
    not probe cost."""
    from s4hanaconnector_spark.operators.similarity import probe_ann_index

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    path = _cached_ann_index(spark, sf_dir)
    return probe_ann_index(
        spark, path, q, k=10, n_probe=4, rerank=_PQ_RERANK, q_id="q_id"
    )


@register(
    "dedup_semdedup_indexed",
    f"""
WITH {_EMB_AUG_CTE.strip()},
{_cells_over("e_aug").strip()},
ce AS (SELECT c.vec_id, c.cell, e.embedding FROM cells c JOIN e_aug e USING (vec_id)),
p AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS qv, b.embedding AS cv
    FROM ce a JOIN ce b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
expl AS (SELECT id_a, id_b, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM p),
pairs AS (
    SELECT id_a, id_b FROM (
        SELECT id_a, id_b, round({_COS_DOT}, 6) AS cosine
        FROM expl GROUP BY id_a, id_b
    ) WHERE cosine >= 0.95
)
SELECT e.vec_id, coalesce(min(pairs.id_a), e.vec_id) AS canonical_id
FROM e_aug e LEFT JOIN pairs ON pairs.id_b = e.vec_id
GROUP BY e.vec_id
""",
)
def dedup_semdedup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup driven by the PERSISTED ANN index's own quantizer — the
    100 TB mitigation the operator documents (operators/dedup.py
    semantic_dedup): instead of deriving a fresh coarse quantizer at dedup
    time, the cells come from ``build_ann_index``'s centroid table read
    back off disk, so dedup inherits the index's (sqrt(N)-scale in
    production) cell structure for free and the quantizer cost is paid
    once at ingest, amortized across probes AND dedup passes. The oracle
    is the same SQL as ``dedup_semdedup`` because the contract IS that the
    indexed path changes where the centroids come from, not what they are:
    the index's prefix-16 centroids over the raw corpus equal the fixture
    corpus's prefix-16 (float->double widening is exact), so both rungs
    must contract identically. The equality of the TRAINED-quantizer
    composition is pinned separately in tests (kmeans centroids shared
    index<->dedup)."""
    from s4hanaconnector_spark.operators.similarity import _fs_read_text

    import os

    from s4hanaconnector_spark.operators.dedup import semantic_dedup

    path = _cached_ann_index(spark, sf_dir)
    cents = spark.read.parquet(os.path.join(path, "centroids"))
    # sanity: the index must agree on the embedding column name — probing
    # a foreign index here would silently mis-assign cells
    import json as _json

    meta = _json.loads(_fs_read_text(spark, os.path.join(path, "meta.json")))
    if meta["vec"] != "embedding":
        raise ValueError(f"index at {path} stores vec column {meta['vec']!r}")
    return semantic_dedup(
        emb_aug(spark, sf_dir), "vec_id", threshold=0.95, centroids=cents
    )


@register(
    "similarity_index_stream_ingest",
    f"""
WITH {_IVF_PQ_PIPE}
SELECT q_id, c_id, cosine, rn FROM pqtop WHERE rn <= 10
""",
)
def similarity_index_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC-to-ANN loop closed through the REAL streaming engine: the
    index is built on the corpus head (ids < 64 — a prefix, so the frozen
    quantizer and codebooks equal the full corpus's deterministic-prefix
    ones), the remaining vectors land as two poll files, a file stream
    drains them one micro-batch each, and every ``foreachBatch`` ingests
    its batch with ``append_to_ann_index`` keyed by the BATCH ID —
    O(|batch|) under the frozen quantizer, new files only under the
    batch's own ``__ingest=b<id>`` unit. The batch key makes the
    at-least-once ``foreachBatch`` contract naturally IDEMPOTENT:
    a replayed batch ``overwrite``-s
    exactly its own unit directory, so no detect-and-repair compaction is
    ever needed — the post-drain |postings| == |corpus| assertion is now
    a pure invariant check (the dedup_ids repair branch is retained as
    defense in depth against UNKEYED writers sharing the index, and the
    forced-replay test in tests/test_llmops.py pins that a re-fired batch
    leaves the count unchanged with no compaction). A probe issued after
    the drain must reproduce the inline ``ivf_pq_topk`` of the full
    corpus BIT FOR BIT (the oracle replayed here, and the
    one-shot-rebuild equality test in tests/test_llmops.py)."""
    import os

    from s4hanaconnector_spark.operators.similarity import (
        append_to_ann_index,
        build_ann_index,
        compact_ann_index,
        probe_ann_index,
    )

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    d = _scratch_dir("ann_stream_ingest", sf_dir)
    path = os.path.join(d, "index")
    feed = os.path.join(d, "feed")
    ckpt = os.path.join(d, "ckpt")
    build_ann_index(
        c.filter(F.col("c_id") < 64), path,
        n_centroids=16, m=_PQ_M, n_codes=_PQ_CODES, c_id="c_id", vec="embedding",
    )
    rest = c.filter(F.col("c_id") >= 64)
    rest.filter(F.col("c_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(feed, "poll=0")
    )
    rest.filter(F.col("c_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(feed, "poll=1")
    )

    def ingest(batch_df, batch_id: int) -> None:
        # batch_key makes the at-least-once foreachBatch replay naturally
        # idempotent: the batch owns __ingest=b<id> and a replay
        # overwrites that unit instead of appending duplicate postings
        append_to_ann_index(batch_df, path, batch_key=f"b{batch_id:06d}")

    stream = (
        spark.readStream.schema(c.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(feed, "poll=*"))
    )
    drain(
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ckpt)
    )
    n_postings = spark.read.parquet(os.path.join(path, "codes")).count()
    n_corpus = c.count()
    if n_postings != n_corpus:
        # batch-keyed appends make replay idempotent, so this branch
        # should never fire; retained as defense in depth (an unkeyed
        # writer sharing the index would duplicate bit-identical rows,
        # which the id-dedup compaction repairs exactly) — only an
        # UNEXPLAINED mismatch fails
        compact_ann_index(spark, path, dedup_ids=True)
        n_postings = spark.read.parquet(os.path.join(path, "codes")).count()
    if n_postings != n_corpus:
        raise AssertionError(
            f"ingest broke postings accounting: {n_postings} codes for "
            f"{n_corpus} vectors (not repairable as replay duplication)"
        )
    return probe_ann_index(
        spark, path, q, k=10, n_probe=4, rerank=_PQ_RERANK, q_id="q_id"
    )


@register(
    "dedup_semantic_incremental_multiprobe",
    f"""
WITH {_SEM_INC_CTE.strip()},
cent AS (
    SELECT vec_id AS cent_id, embedding AS cv FROM allv ORDER BY vec_id LIMIT 16
),
cax AS (
    SELECT v.vec_id, v.embedding AS qv, c.cent_id, c.cv,
           unnest(range(1, len(v.embedding) + 1)) AS i
    FROM allv v CROSS JOIN cent c
),
caff AS (
    SELECT vec_id, cent_id, round({_COS_DOT}, 6) AS aff
    FROM cax GROUP BY vec_id, cent_id
),
ranked AS (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY aff DESC, cent_id) AS rn
    FROM caff
),
ccell AS (
    SELECT c.vec_id, r.cent_id AS cell, c.embedding
    FROM corpus c JOIN ranked r ON r.vec_id = c.vec_id AND r.rn = 1
),
bcell AS (
    SELECT b.vec_id, r.cent_id AS cell, b.embedding
    FROM batch b JOIN ranked r ON r.vec_id = b.vec_id AND r.rn <= 2
),
chp AS (
    SELECT cc.vec_id AS corpus_id, bc.vec_id AS bid,
           cc.embedding AS qv, bc.embedding AS cv
    FROM ccell cc JOIN bcell bc ON cc.cell = bc.cell
),
chx AS (SELECT corpus_id, bid, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM chp),
corpus_hits AS (
    SELECT bid, min(corpus_id) AS corpus_canonical FROM (
        SELECT corpus_id, bid, round({_COS_DOT}, 6) AS cosine
        FROM chx GROUP BY corpus_id, bid
    ) WHERE cosine >= 0.95 GROUP BY bid
),
bhp AS (
    -- DISTINCT: both batch sides fan out x2 under multi-probe, so a pair
    -- sharing both cells would otherwise double its unnest sums (FP
    -- boundary hazard at round-to-6; chp can't duplicate — the corpus
    -- side is single-assigned)
    SELECT DISTINCT lo.vec_id AS lo_id, hi.vec_id AS bid,
                    lo.embedding AS qv, hi.embedding AS cv
    FROM bcell lo JOIN bcell hi ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id
),
bhx AS (SELECT lo_id, bid, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM bhp),
batch_hits AS (
    SELECT bid, min(lo_id) AS batch_canonical FROM (
        SELECT lo_id, bid, round({_COS_DOT}, 6) AS cosine
        FROM bhx GROUP BY lo_id, bid
    ) WHERE cosine >= 0.95 GROUP BY bid
)
SELECT b.vec_id AS batch_id,
       CASE WHEN ch.corpus_canonical IS NOT NULL THEN 'dup_of_corpus'
            WHEN bh.batch_canonical IS NOT NULL THEN 'dup_in_batch'
            ELSE 'new' END AS status,
       coalesce(ch.corpus_canonical, bh.batch_canonical, b.vec_id) AS canonical_id
FROM batch b
LEFT JOIN corpus_hits ch ON ch.bid = b.vec_id
LEFT JOIN batch_hits bh ON bh.bid = b.vec_id
""",
)
def dedup_semantic_incremental_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-side MULTI-PROBE incremental semantic dedup (n_assign=2): the
    single-probe rung misclassifies 14-21%% of the fixture's planted
    corpus-dups as 'new' (their corpus twin sits across a Voronoi
    boundary) — index pollution in the dedup-gated ingest pipeline. Each
    batch vector probes its top-2 cells while the CORPUS stays
    single-assigned (its cells are the index's resident layout, so corpus
    scan cost is unchanged; only the tiny batch table fans out 2x).
    Measured catch rate on planted dups: 48/44/198 of 56/56/223 at
    sf0.001/0.01/0.1 single-probe -> 55/54/220 at 2 probes; the internal
    gate asserts >= 90%%. Duplicate joined pairs are absorbed by the
    min-contraction; the oracle DISTINCTs the batch-pair set before
    scoring so each cosine is one FP sum."""
    corpus, batch = _sem_inc_frames(spark, sf_dir)
    out = D.incremental_semantic_dedup(
        corpus, batch, "vec_id", threshold=0.95, n_assign=2
    )
    out = out.localCheckpoint(eager=False)
    planted = out.filter(
        (F.col("batch_id") >= 100000) & (F.col("batch_id") < 300000)
    )
    t = planted.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("status") == "dup_of_corpus", 1).otherwise(0)
        ).alias("hit"),
    ).collect()[0]
    # explicit raise: the gate must survive `python -O` (see IVF gate)
    if t["hit"] * 100 < t["n"] * 90:
        raise AssertionError(
            f"multi-probe incremental dedup catch-rate regression: "
            f"{t['hit']}/{t['n']} planted corpus-dups below 90%"
        )
    return out


@register(
    "streaming_semantic_ingest",
    f"""
WITH {_SEM_INC_CTE.strip()},
{_cells_over("allv").strip()},
ccell AS (SELECT c.vec_id, cl.cell, c.embedding FROM corpus c JOIN cells cl USING (vec_id)),
bcell AS (SELECT b.vec_id, cl.cell, b.embedding FROM batch b JOIN cells cl USING (vec_id)),
chp AS (
    SELECT cc.vec_id AS corpus_id, bc.vec_id AS bid,
           cc.embedding AS qv, bc.embedding AS cv
    FROM ccell cc JOIN bcell bc ON cc.cell = bc.cell
),
chx AS (SELECT corpus_id, bid, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM chp),
corpus_hits AS (
    SELECT bid, min(corpus_id) AS corpus_canonical FROM (
        SELECT corpus_id, bid, round({_COS_DOT}, 6) AS cosine
        FROM chx GROUP BY corpus_id, bid
    ) WHERE cosine >= 0.95 GROUP BY bid
),
bhp AS (
    SELECT lo.vec_id AS lo_id, hi.vec_id AS bid, lo.embedding AS qv, hi.embedding AS cv
    FROM bcell lo JOIN bcell hi ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id
),
bhx AS (SELECT lo_id, bid, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM bhp),
batch_hits AS (
    SELECT bid, min(lo_id) AS batch_canonical FROM (
        SELECT lo_id, bid, round({_COS_DOT}, 6) AS cosine
        FROM bhx GROUP BY lo_id, bid
    ) WHERE cosine >= 0.95 GROUP BY bid
)
SELECT b.vec_id AS batch_id,
       CASE WHEN ch.corpus_canonical IS NOT NULL THEN 'dup_of_corpus'
            WHEN bh.batch_canonical IS NOT NULL THEN 'dup_in_batch'
            ELSE 'new' END AS status,
       coalesce(ch.corpus_canonical, bh.batch_canonical, b.vec_id) AS canonical_id
FROM batch b
LEFT JOIN corpus_hits ch ON ch.bid = b.vec_id
LEFT JOIN batch_hits bh ON bh.bid = b.vec_id
""",
)
def streaming_semantic_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-GATED index ingest through the real streaming engine — the
    production composition of the round's pieces, where the persisted ANN
    index IS the dedup state: the feed lands as two poll files, each
    ``foreachBatch`` classifies its vectors against the index's RESIDENT
    vectors with ``incremental_semantic_dedup`` (frozen quantizer = the
    index's own centroid table, corpus never shuffled), and ONLY the
    ``new`` vectors are appended (O(|new|) under the frozen quantizer), so
    later polls dedup against earlier polls' acceptances automatically —
    no side state store, the index is the state, exactly what a
    deduplicating embedding service persists.

    The drained classification must hash-equal the ONE-SHOT
    ``dedup_semantic_incremental`` of the whole feed (this oracle). The
    only vocabulary seam: a dup of an EARLIER POLL's accepted vector is
    index-resident at classification time ('dup_of_corpus' to the
    operator) but 'dup_in_batch' to the one-shot; since feed ids are
    >= 100000 by fixture construction, the remap is the deterministic
    canonical-id test below. Canonicals agree because the fixture's only
    cross-poll near-dups (+400000 perturbed-reversed) have exactly one
    qualifying neighbor — their accepted +300000 source (the composition
    argument is verified by the hash equality, not assumed). Postings
    accounting is asserted after the drain: |index| == |corpus| + |new|."""
    import glob as _glob
    import os

    from s4hanaconnector_spark.operators.similarity import (
        append_to_ann_index,
        build_ann_index,
    )

    corpus, batch = _sem_inc_frames(spark, sf_dir)
    d = _scratch_dir("sem_ingest", sf_dir)
    path = os.path.join(d, "index")
    feed = os.path.join(d, "feed")
    ckpt = os.path.join(d, "ckpt")
    out_dir = os.path.join(d, "out")
    build_ann_index(
        corpus, path, n_centroids=16, m=_PQ_M, n_codes=_PQ_CODES,
        c_id="vec_id", vec="embedding",
    )
    # poll 0 = the corpus near-dups (+100000) and the genuinely new
    # reversed vectors (+300000); poll 1 = the +400000 near-dups OF POLL
    # 0's acceptances — the cross-batch leg runs against the INDEX
    batch.filter(F.col("vec_id") < 400000).coalesce(1).write.parquet(
        os.path.join(feed, "poll=0")
    )
    batch.filter(F.col("vec_id") >= 400000).coalesce(1).write.parquet(
        os.path.join(feed, "poll=1")
    )

    def ingest(bdf, batch_id: int) -> None:
        s = bdf.sparkSession
        # classify against the INDEX, not a full resident rescan: the
        # resident side's cells come straight off the cell-partitioned
        # vectors/ layout (assigned with the index's frozen backend, so
        # bit-identical to re-assignment) and the read is PARTITION-PRUNED
        # to the batch's own cells — per-batch resident bytes are the
        # probed cells, not the whole index (the O(probed-cells) ingest
        # shape the 100 TB loop needs; equality with the full-scan
        # classifier is test-pinned and this query's oracle replays the
        # full-scan semantics, which the pruning provably preserves — a
        # cell with no batch member contributes no pair)
        out = D.incremental_semantic_dedup_from_index(
            s, path, bdf, threshold=0.95
        )
        # overwrite: foreachBatch is at-least-once — a replayed batch id
        # must replace its own prior output (same contract comment as the
        # sibling streaming merges)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_{batch_id:06d}")
        )
        accepted = (
            s.read.parquet(os.path.join(out_dir, f"batch_{batch_id:06d}"))
            .filter(F.col("status") == "new")
            .join(
                bdf.select(F.col("vec_id").alias("batch_id"), "embedding"),
                "batch_id",
            )
            .select(F.col("batch_id").alias("vec_id"), "embedding")
        )
        append_to_ann_index(accepted, path, batch_key=f"b{batch_id:06d}")

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(feed, "poll=*"))
    )
    drain(
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ckpt)
    )
    # glob expanded here: a batch read of a glob path logs a
    # FileNotFoundException stack trace looking for a sink metadata dir
    res = spark.read.parquet(*sorted(_glob.glob(os.path.join(out_dir, "batch_*"))))
    n_new = res.filter(F.col("status") == "new").count()
    n_postings = spark.read.parquet(os.path.join(path, "vectors")).count()
    n_corpus = corpus.count()
    if n_postings != n_corpus + n_new:
        # both the classification parquet AND the index append are now
        # overwrite-safe per batch id, so this branch should never fire;
        # retained as defense in depth against unkeyed writers sharing
        # the index (replay rows are bit-identical, so id-dedup repairs
        # exactly)
        from s4hanaconnector_spark.operators.similarity import compact_ann_index

        compact_ann_index(spark, path, dedup_ids=True)
        n_postings = spark.read.parquet(os.path.join(path, "vectors")).count()
    if n_postings != n_corpus + n_new:
        raise AssertionError(
            f"dedup-gated ingest accounting broken: {n_postings} postings "
            f"for {n_corpus} corpus + {n_new} accepted "
            f"(not repairable as replay duplication)"
        )
    return res.select(
        "batch_id",
        F.when(
            (F.col("status") == "dup_of_corpus")
            & (F.col("canonical_id") >= 100000),
            F.lit("dup_in_batch"),
        )
        .otherwise(F.col("status"))
        .alias("status"),
        "canonical_id",
    )


@register(
    "similarity_index_compact",
    f"""
WITH {_IVF_PQ_PIPE}
SELECT q_id, c_id, cosine, rn FROM pqtop WHERE rn <= 10
""",
)
def similarity_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE under incremental ingest: the index is built on
    the corpus head, grown by two appends (each leaving its own file set
    under every touched cell — exactly how a probe's file-listing cost
    creeps at 100 TB), then ``compact_ann_index`` folds every cell back to
    one file. The fold must strictly reduce the file count AND change
    nothing observable: the probe after compaction is bit-identical to the
    inline ``ivf_pq_topk`` of the full corpus (this oracle), and
    before/after + idempotence equality is test-pinned. Same discipline as
    the CDC topic's ``compact_changes``."""
    import os

    from s4hanaconnector_spark.operators.similarity import (
        append_to_ann_index,
        build_ann_index,
        compact_ann_index,
        probe_ann_index,
    )

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    path = os.path.join(_scratch_dir("ann_compact", sf_dir), "index")
    build_ann_index(
        c.filter(F.col("c_id") < 64), path,
        n_centroids=16, m=_PQ_M, n_codes=_PQ_CODES, c_id="c_id", vec="embedding",
    )
    rest = c.filter(F.col("c_id") >= 64)
    append_to_ann_index(rest.filter(F.col("c_id") % 2 == 0), path)
    append_to_ann_index(rest.filter(F.col("c_id") % 2 == 1), path)
    stats = compact_ann_index(spark, path)
    if stats["files_after"] >= stats["files_before"]:
        raise AssertionError(f"compaction did not fold files: {stats}")
    return probe_ann_index(
        spark, path, q, k=10, n_probe=4, rerank=_PQ_RERANK, q_id="q_id"
    )


# the delete oracle is the inline IVFADC pipe with the tombstoned id range
# excluded at CANDIDATE generation — exactly where the operator's broadcast
# anti-join on codes/ acts (both happen before the PQ shortlist, so the
# pipelines stay bit-identical); the quantizer and codebooks deliberately
# come from the FULL corpus on both sides, because the index was built
# before the delete and deletes never retrain (ids 100-199 sit outside the
# 16-centroid / 32-codeword prefixes by construction)
_DEL_JOIN_PAT = "FROM probes p JOIN cells c ON c.cell = p.cell AND c.c_id <> p.q_id"
if _DEL_JOIN_PAT not in _IVF_PQ_SCORERAW_CTE:  # pragma: no cover
    # loud at IMPORT time: a silent no-op replace would ship a delete
    # oracle that stopped excluding the tombstoned range, going red only
    # at the next full parity run, far from the edit that broke it
    raise RuntimeError(
        "similarity_index_delete oracle: candidate-join pattern no longer "
        "matches _IVF_PQ_SCORERAW_CTE — update _DEL_JOIN_PAT"
    )
_IVF_PQ_SCORERAW_DEL_CTE = _IVF_PQ_SCORERAW_CTE.replace(
    _DEL_JOIN_PAT,
    _DEL_JOIN_PAT + " AND NOT (c.c_id BETWEEN 100 AND 199)",
)
_IVF_PQ_DEL_PIPE = (
    _IVF_CELLS_CTE.strip() + ",\n" + _PQ_ENC_CTE.strip() + ",\n"
    + _IVF_PQ_SCORERAW_DEL_CTE.strip() + ",\n" + _PQ_TAIL_CTE.strip()
)


@register(
    "similarity_index_delete",
    f"""
WITH {_IVF_PQ_DEL_PIPE}
SELECT q_id, c_id, cosine, rn FROM pqtop WHERE rn <= 10
""",
)
def similarity_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index DELETE lifecycle: the index is built on the full corpus, ids
    100-199 are tombstoned (delete_from_ann_index — an O(|batch|)
    append-only log write, the right-to-be-forgotten / takedown verb a
    served 100 TB index needs), and the probe must behave as if those
    vectors were never ingested: tombstoned ids are excluded by a
    broadcast anti-join on the probed cells' codes BEFORE the PQ
    shortlist, which the oracle replays by excluding the same id range at
    candidate generation. The deleted range overlaps the fixture's actual
    top-10 members (14 of 50 result ids at sf0.01), so the delete
    measurably rewrites the frontier rather than vacuously passing.
    Physical application + tombstone-clear is compact_ann_index's job and
    is equality-tested (tests/test_llmops.py); here the tombstones stay
    LIVE so the query pins the log-read path."""
    import os

    from s4hanaconnector_spark.operators.similarity import (
        build_ann_index,
        delete_from_ann_index,
        probe_ann_index,
    )

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    path = os.path.join(_scratch_dir("ann_delete", sf_dir), "index")
    build_ann_index(
        c, path, n_centroids=16, m=_PQ_M, n_codes=_PQ_CODES,
        c_id="c_id", vec="embedding",
    )
    delete_from_ann_index(
        c.filter(F.col("c_id").between(100, 199)).select("c_id"), path
    )
    return probe_ann_index(
        spark, path, q, k=10, n_probe=4, rerank=_PQ_RERANK, q_id="q_id"
    )


@register(
    "split_leakage_free",
    f"""
WITH {DOCS_AUG_CTE.strip()},
canon AS (
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY md5({_NORM})) AS canonical_id
    FROM docs_aug
)
SELECT doc_id, canonical_id,
       CASE WHEN ('0x' || substring(md5(CAST(canonical_id AS VARCHAR) || chr(31) || '42'), 1, 8))::BIGINT < {int(0.8 * 16**8)} THEN 'train'
            WHEN ('0x' || substring(md5(CAST(canonical_id AS VARCHAR) || chr(31) || '42'), 1, 8))::BIGINT < {int(0.9 * 16**8)} THEN 'val'
            ELSE 'test' END AS split
FROM canon
""",
)
def split_leakage_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test assignment: the split hashes the
    near-dup CLUSTER canonical id (fingerprint window min), not the row
    id, so exact/near copies can never straddle train and test — the
    contamination mode plain row-hash splitting cannot prevent
    (operators/sampling.py cluster_safe_split). Row-local after one
    fingerprint window; rerun- and engine-stable like every split here."""
    from pyspark.sql import Window as W

    from s4hanaconnector_spark.operators.sampling import cluster_safe_split
    from s4hanaconnector_spark.operators.text import fingerprint

    d = docs_aug(spark, sf_dir)
    canon = d.select(
        "doc_id",
        F.min("doc_id")
        .over(W.partitionBy(fingerprint(F.col("text"))))
        .alias("canonical_id"),
    )
    return cluster_safe_split(
        canon, "canonical_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42
    ).select("doc_id", "canonical_id", "split")


@register(
    "streaming_incremental_dedup",
    f"""
WITH {BATCH_CTE.strip()},
cfp AS (
    SELECT md5({_NORM}) AS fp, min(doc_id) AS corpus_canonical
    FROM documents GROUP BY 1
),
bfp AS (SELECT doc_id AS batch_id, md5({_NORM}) AS fp FROM batch),
bmin AS (SELECT fp, min(batch_id) AS batch_min FROM bfp GROUP BY fp)
SELECT b.batch_id,
       CASE WHEN c.corpus_canonical IS NOT NULL THEN 'dup_of_corpus'
            WHEN m.batch_min < b.batch_id THEN 'dup_in_batch'
            ELSE 'new' END AS status,
       CASE WHEN c.corpus_canonical IS NOT NULL THEN c.corpus_canonical
            WHEN m.batch_min < b.batch_id THEN m.batch_min
            ELSE b.batch_id END AS canonical_id
FROM bfp b LEFT JOIN cfp c USING (fp) JOIN bmin m USING (fp)
""",
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup through the REAL streaming engine: the
    ingest feed lands as two poll files, a file stream drains them one
    micro-batch each, and every foreachBatch classifies its docs against
    (a) the static corpus (one scan, broadcast batch fingerprints — the
    E116 plan) and (b) the accumulated fingerprint STATE of docs accepted
    as new by earlier micro-batches. The drained classification must
    hash-equal the ONE-SHOT batch classification of the whole feed — the
    composition argument (corpus hits are batch-order-free; cross-batch
    dups resolve to the earlier doc's canonical, which is the feed-wide
    min because polls ascend by doc id) is verified, not assumed. State
    is fingerprints of accepted docs only — |new docs| rows, never
    payloads, exactly what a production dedup service persists."""
    import glob as _glob
    import os

    corpus = t(spark, sf_dir, "documents").select("doc_id", "text")
    full = batch_docs(spark, sf_dir)
    d = _scratch_dir("stream_dedup", sf_dir)
    feed_dir = os.path.join(d, "feed")
    state_dir = os.path.join(d, "state")
    out_dir = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    os.makedirs(state_dir)
    # poll 0 = legs +400000/+500000/+600000, poll 1 = legs +700000/+800000:
    # the within-feed twin pair (+600000/+700000) straddles the polls, so
    # the cross-batch state leg is genuinely exercised
    full.filter(F.col("doc_id") < 700000).coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=0")
    )
    full.filter(F.col("doc_id") >= 700000).coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=1")
    )

    def classify_batch(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        versions = sorted(_glob.glob(os.path.join(state_dir, "seen_0*")))
        prev = [
            v
            for v in versions
            if v < os.path.join(state_dir, f"seen_{batch_id:06d}")
        ]
        seen = s.read.parquet(prev[-1]) if prev else None
        out = D.incremental_dedup(corpus, batch_df, "text", "doc_id", seen=seen)
        # mode("overwrite"): foreachBatch is at-least-once — a replayed
        # batch id must REPLACE its own prior (uncommitted) output, not
        # wedge the query on path-already-exists (same contract comment as
        # the sibling streaming merges)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_{batch_id:06d}")
        )
        accepted = (
            s.read.parquet(os.path.join(out_dir, f"batch_{batch_id:06d}"))
            .filter(F.col("status") == "new")
            .join(
                batch_df.select(
                    F.col("doc_id").alias("batch_id"),
                    X.fingerprint(F.col("text")).alias("fp"),
                ),
                "batch_id",
            )
            .select("fp", F.col("batch_id").alias("canonical_id"))
        )
        new_state = accepted if seen is None else seen.unionAll(accepted)
        new_state.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"seen_{batch_id:06d}")
        )

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(feed_dir, "poll=*"))
    )
    drain(
        stream.writeStream.foreachBatch(classify_batch)
        .option("checkpointLocation", ckpt)
    )
    # glob expanded here, as in streaming_semantic_ingest
    return spark.read.parquet(*sorted(_glob.glob(os.path.join(out_dir, "batch_*"))))


@register(
    "corpus_budget_selection",
    f"""
WITH toks AS (
    SELECT doc_id, len({_WORDS}) AS n_toks,
           len(list_distinct({_WORDS})) AS n_uniq
    FROM documents
),
base AS (
    SELECT doc_id, n_toks,
           round(CAST(n_uniq AS DOUBLE) / n_toks, 6) AS quality,
           CAST(floor(round(CAST(n_uniq AS DOUBLE) / n_toks, 6) * 1000) AS INTEGER) AS bin
    FROM toks WHERE n_toks > 0
),
bins AS (
    SELECT bin, sum(n_toks) AS bin_toks FROM base GROUP BY bin
),
cums AS (
    SELECT bin, bin_toks,
           sum(bin_toks) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS cum
    FROM bins
),
full_bins AS (SELECT bin FROM cums WHERE cum <= 20000),
boundary AS (
    SELECT bin, 20000 - (cum - bin_toks) AS remaining
    FROM cums WHERE cum > 20000 AND cum - bin_toks < 20000
),
sel_full AS (
    SELECT b.doc_id, b.n_toks, b.quality
    FROM base b JOIN full_bins USING (bin)
),
sel_boundary AS (
    SELECT doc_id, n_toks, quality FROM (
        SELECT b.doc_id, b.n_toks, b.quality, bd.remaining,
               sum(b.n_toks) OVER (
                   PARTITION BY b.bin ORDER BY b.quality DESC, b.doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS dcum
        FROM base b JOIN boundary bd USING (bin)
    ) WHERE dcum <= remaining
)
SELECT * FROM sel_full UNION ALL SELECT * FROM sel_boundary
""",
)
def corpus_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: keep the highest-quality documents
    whose token counts fit a 20k-token budget — greedy-by-quality, the
    standard budget-capped curation step before training. The quality
    signal here is the distinct-token ratio (repetition-inverse); any
    scored column plugs in.

    Scale-correct algorithm: NOT a global order-by + running sum (a
    single-partition sort at 100 TB). Quality is quantized into 1000 bins;
    per-bin token totals (one shuffle on a 1000-value key) take a running
    sum over the TINY bin table (broadcastable window), selecting whole
    bins that fit; only the ONE boundary bin sorts its own documents to
    fill the remainder. The full-bin membership check is a broadcast semi
    join — the corpus is scanned once and never globally sorted. Ties
    inside the boundary bin break on (quality desc, doc_id) after 6-digit
    rounding, so the frontier is engine-exact."""
    from pyspark.sql import Window as W

    from s4hanaconnector_spark.operators.text import word_tokens

    B = 20000
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    toked = d.select(
        "doc_id", word_tokens(F.col("text")).alias("__toks")
    ).select(
        "doc_id",
        F.size("__toks").alias("n_toks"),
        F.size(F.array_distinct("__toks")).alias("n_uniq"),
    )
    quality = F.round(F.col("n_uniq").cast("double") / F.col("n_toks"), 6)
    base = toked.filter(F.col("n_toks") > 0).select(
        "doc_id",
        "n_toks",
        quality.alias("quality"),
        F.floor(quality * 1000).cast("int").alias("bin"),
    )
    bins = base.groupBy("bin").agg(F.sum("n_toks").alias("bin_toks"))
    wb = W.orderBy(F.desc("bin")).rowsBetween(W.unboundedPreceding, W.currentRow)
    cums = bins.withColumn("cum", F.sum("bin_toks").over(wb))
    full_bins = cums.filter(F.col("cum") <= B).select("bin")
    boundary = cums.filter(
        (F.col("cum") > B) & (F.col("cum") - F.col("bin_toks") < B)
    ).select("bin", (F.lit(B) - (F.col("cum") - F.col("bin_toks"))).alias("remaining"))
    sel_full = base.join(F.broadcast(full_bins), "bin", "semi").select(
        "doc_id", "n_toks", "quality"
    )
    wd = (
        W.partitionBy("bin")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sel_boundary = (
        base.join(F.broadcast(boundary), "bin")
        .withColumn("dcum", F.sum("n_toks").over(wd))
        .filter(F.col("dcum") <= F.col("remaining"))
        .select("doc_id", "n_toks", "quality")
    )
    return sel_full.unionByName(sel_boundary)


@register(
    "embedding_training_pairs",
    f"""
WITH b AS (
    SELECT vec_id, embedding,
           (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) * 128 +
           (CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END) * 64 +
           (CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END) * 32 +
           (CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) * 16 +
           (CASE WHEN embedding[5] >= 0 THEN 1 ELSE 0 END) * 8 +
           (CASE WHEN embedding[6] >= 0 THEN 1 ELSE 0 END) * 4 +
           (CASE WHEN embedding[7] >= 0 THEN 1 ELSE 0 END) * 2 +
           (CASE WHEN embedding[8] >= 0 THEN 1 ELSE 0 END) AS bucket
    FROM embeddings
),
small AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= 1024),
bc AS (SELECT b.* FROM b JOIN small USING (bucket)),
pairs AS (
    SELECT a.vec_id AS id_a, b2.vec_id AS id_b, a.embedding AS qv, b2.embedding AS cv
    FROM bc a JOIN bc b2 ON a.bucket = b2.bucket
    WHERE a.vec_id < b2.vec_id
),
expl AS (SELECT id_a, id_b, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM pairs),
scored AS (
    SELECT id_a, id_b, round({_COS_DOT}, 6) AS cosine
    FROM expl GROUP BY id_a, id_b
)
SELECT id_a, id_b, cosine,
       CASE WHEN cosine >= 0.8 THEN 'positive' ELSE 'hard_negative' END AS pair_type
FROM scored
WHERE cosine >= 0.8 OR (cosine >= 0.2 AND cosine < 0.5)
""",
)
def embedding_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding-model training: positives are
    near-identical vectors (cosine >= 0.8), hard negatives are
    SAME-BUCKET pairs of moderate similarity (0.2 <= cosine < 0.5) — the
    negatives that actually teach a margin, because random negatives are
    trivially far at scale. Mining inside sign-LSH buckets keeps the
    candidate set ~2^8 below all-pairs AND biases negatives toward the
    hard region for free (bucket collision implies leading-coordinate
    agreement). One bucketed self-join, no corpus x corpus pass; the
    1024-vector hot-bucket cap sheds any sign bucket so large its bits
    carry no locality signal (biased encoder coordinates can put a
    constant fraction of N in one bucket — with min_cosine=-1.0 nothing
    else bounds that join's fan-out), mirrored in the oracle."""
    pairs = S.lsh_bucketed_pairs(
        t(spark, sf_dir, "embeddings"), "vec_id", dims=8, min_cosine=-1.0,
        max_bucket=1024,
    )
    return pairs.filter(
        (F.col("cosine") >= 0.8)
        | ((F.col("cosine") >= 0.2) & (F.col("cosine") < 0.5))
    ).select(
        "id_a",
        "id_b",
        "cosine",
        F.when(F.col("cosine") >= 0.8, F.lit("positive"))
        .otherwise(F.lit("hard_negative"))
        .alias("pair_type"),
    )


def _SIG_CTES(src: str, prefix: str) -> str:
    """Shingle + band-signature CTEs for one source table (mirrors
    operators.dedup.band_signatures)."""
    return f"""
{prefix}w AS (
    SELECT doc_id, {_WORDS} AS w FROM {src}
),
{prefix}sh AS (
    SELECT DISTINCT doc_id AS doc, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM {prefix}w WHERE len(w) >= 3)
    UNION
    SELECT DISTINCT doc_id, array_to_string(w, ' ') FROM {prefix}w WHERE len(w) < 3
),
{prefix}sig AS (
    SELECT doc, substr(md5(shingle), 1, 1) AS band, min(md5(shingle)) AS sig
    FROM {prefix}sh GROUP BY doc, band
)
"""


@register(
    "dedup_incremental_neardup",
    f"""
WITH {BATCH_CTE.strip()},
{_SIG_CTES('documents', 'c').strip()},
{_SIG_CTES('batch', 'b').strip()},
hits AS (
    SELECT b.doc AS batch_id, c.doc AS corpus_id, b.band, b.sig
    FROM bsig b JOIN csig c ON b.band = c.band AND b.sig = c.sig
),
sizes AS (
    SELECT band, sig, count(DISTINCT corpus_id) AS n FROM hits GROUP BY 1, 2
),
capped AS (
    SELECT h.batch_id, h.corpus_id FROM hits h
    JOIN sizes s ON s.band = h.band AND s.sig = h.sig
    WHERE s.n <= 64
)
SELECT batch_id, corpus_id, count(*) AS n_shared_bands
FROM capped GROUP BY 1, 2 HAVING count(*) >= 4
""",
)
def dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup against the corpus (operators/dedup.py
    incremental_neardup_candidates): the batch's fresh-suffix and twin
    variants share most shingles with their corpus originals, so they
    collide on >= 4 of 16 MinHash bands even though their fingerprints
    differ — the fuzzy rung E116's exact classification cannot see. The
    corpus reduces to row-local signatures and probes the broadcast batch
    signature set; only hit pairs ever shuffle."""
    corpus = t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.incremental_neardup_candidates(
        corpus, batch_docs(spark, sf_dir), "text", "doc_id"
    )


@register(
    "multimodal_shard_manifest",
    f"""
WITH s AS (
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || chr(31) || '7'), 1, 8))::BIGINT % 16 AS shard_id,
           ('0x' || substring(md5(text), 1, 12))::BIGINT AS h
    FROM documents
)
SELECT shard_id,
       count(*) AS n_members,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(sum(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS checksum
FROM s GROUP BY shard_id
""",
)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard manifest for a binary-payload corpus: every
    payload hash-buckets into one of 16 shards (row-local, deterministic,
    retry-stable — the same md5-bucket discipline as the sampling
    operators, so a re-run materializes byte-identical shards), and each
    shard's manifest row carries member count, total payload bytes and an
    order-independent DECIMAL(38) sum of 48-bit member digests — the
    integrity record a training-data loader checks before streaming the
    shard. One scan, one tiny 16-key aggregation; writing the actual
    shards is `write_partitioned(..., by=shard_id)` on the same column."""
    from s4hanaconnector_spark.operators.sampling import hash_bucket

    d = t(spark, sf_dir, "documents")
    payload = M.attach_payload(d, "text", "doc_id")
    h = F.conv(F.substring(F.md5(F.col("payload")), 1, 12), 16, 10).cast(
        "decimal(38,0)"
    )
    return (
        payload.select(
            (hash_bucket(["doc_id"], seed=7) % 16).alias("shard_id"),
            F.col("media_meta.n_bytes").alias("n_bytes"),
            h.alias("h"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("h").cast("string").alias("checksum"),
        )
    )


@register(
    "dedup_minhash_estimate_quality",
    f"""
WITH {DOCS_AUG_CTE.strip()},
{_SHINGLES_CTE.strip()},
sigs0 AS (
    SELECT doc, substr(md5(shingle), 1, 1) AS band, min(md5(shingle)) AS sig
    FROM shingles GROUP BY doc, band
),
small AS (
    SELECT band, sig FROM sigs0 GROUP BY band, sig HAVING count(*) <= 64
),
sigs AS (
    SELECT s.* FROM sigs0 s JOIN small USING (band, sig)
),
cands AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_shared_bands
    FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
    WHERE a.doc < b.doc GROUP BY 1, 2
),
rare AS (
    SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= 128
),
capped AS (SELECT s.doc, s.shingle FROM shingles s JOIN rare USING (shingle)),
sizes AS (SELECT doc, count(*) AS sz FROM capped GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
    FROM capped a JOIN capped b ON a.shingle = b.shingle
    WHERE a.doc < b.doc GROUP BY 1, 2
),
jac AS (
    SELECT c.doc_a, c.doc_b, c.n_shared_bands,
           round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 6) AS jaccard
    FROM cands c
    JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc = c.doc_a
    JOIN sizes sb ON sb.doc = c.doc_b
)
SELECT count(*) AS n_pairs,
       CAST(sum(CASE WHEN abs(n_shared_bands / 16.0 - jaccard) <= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
       CAST(sum(CASE WHEN n_shared_bands >= 8 AND jaccard >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_strong_true
FROM jac
""",
)
def dedup_minhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy contract for the MinHash rung, in the same spirit as
    the IVF/int8 recall gates: over every LSH candidate pair, the band
    agreement fraction (n_shared_bands/16 — the MinHash estimate of
    Jaccard) is compared against the EXACT shingle Jaccard, and the query
    emits integer counts: pairs, pairs whose estimate lands within 0.3 of
    the truth, and strong-agreement pairs (>= 8/16 bands) that are truly
    similar (J >= 0.3). The function asserts a 60% closeness floor, so
    estimator degradation (bad banding, broken hashing) fails loudly.
    df_cap=128 on the exact side (threshold=0.0 keeps every candidate's
    score, the CAP bounds the pair fan-out): an uncapped thresholdless
    shingle self-join materializes every co-shingling pair corpus-wide —
    the quadratic boilerplate blowup the dedup module calls the
    job-killer — before the candidate intersection could prune anything;
    the capped universe is the SAME one the LSH candidates and
    dedup_jaccard use, so estimate and truth stay comparable. The exact
    pairs that survive are then intersected with the LSH candidates:
    cheap-candidates/exact-verify over a bounded pair set."""
    cands = D.minhash_lsh_candidates(docs_aug(spark, sf_dir), "text", "doc_id")
    exact = D.jaccard_pairs(
        docs_aug(spark, sf_dir), "text", "doc_id", threshold=0.0, df_cap=128
    )
    joined = cands.join(exact, on=["doc_a", "doc_b"])
    est = F.col("n_shared_bands") / F.lit(16.0)
    out = joined.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when(F.abs(est - F.col("jaccard")) <= 0.3, 1).otherwise(0)
        ).alias("n_close"),
        F.sum(
            F.when((F.col("n_shared_bands") >= 8) & (F.col("jaccard") >= 0.3), 1)
            .otherwise(0)
        ).alias("n_strong_true"),
    )
    out = out.localCheckpoint(eager=False)  # one execution, not two (see recall gates)
    row = out.collect()[0]
    # explicit raise: the gate must survive `python -O` (see IVF gate)
    if row["n_close"] * 100 < row["n_pairs"] * 60:
        raise AssertionError(
            f"MinHash estimator degraded: {row['n_close']}/{row['n_pairs']} close"
        )
    return out


@register(
    "similarity_topk_auto",
    f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
pairs AS (
    SELECT q.q_id, c.vec_id AS c_id, q.qv, c.embedding AS cv
    FROM q CROSS JOIN embeddings c
    WHERE c.vec_id <> q.q_id
),
expl AS (SELECT q_id, c_id, qv, cv, unnest(range(1, len(qv) + 1)) AS i FROM pairs),
scored AS (
    SELECT q_id, c_id, round({_COS_DOT}, 6) AS cosine
    FROM expl GROUP BY q_id, c_id
),
ranked AS (
    SELECT q_id, c_id, cosine,
           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
    FROM scored
)
SELECT q_id, c_id, cosine, rn FROM ranked WHERE rn <= 10
""",
)
def similarity_topk_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The similarity strategy PLANNER under the driver's hash gate
    (operators/similarity.py topk(strategy='auto'), SURVEY §7's optional
    planner item): at fixture scale the corpus row estimate is under the
    brute-force affordability bound, so auto must pick the exact broadcast
    rung and match the exact oracle bit-for-bit — pipelines call one front
    door and get exactness whenever it is affordable, the indexed rung only
    beyond it (test_llmops pins the beyond-the-bound choice)."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return S.topk(q, c, k=10, strategy="auto")
