"""Training-data pipeline operators over `documents` / `embeddings`.

Large-scale curation ops a 100 TB text corpus needs, each expressed
Spark-first with a DuckDB oracle:

  - exact dedup (hash groupBy)
  - n-gram Jaccard near-dup (shingle self-join)
  - MinHash + LSH banding (portable signature: lexicographic-min md5)
  - SimHash fingerprint (md5-derived bit votes)
  - brute-force cosine top-k over embeddings (the ANN baseline)
  - LSH-bucketed ANN (random-hyperplane signs, md5-seeded)
  - language-ID heuristic, quality scoring, token counting,
    document fingerprinting

Portability contract: every hash is md5-hex (identical strings in both
engines); integers come from the leading 15 hex chars (< 2^60, no
sign issues); floats are rounded after identical-op math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import QueryDef, load

# hex -> int in DuckDB SQL (the oracles' side of Spark's conv())
def _sql_hex60(expr: str) -> str:
    return f"CAST(concat('0x', substr({expr}, 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------- dedup

def q_dedup_exact(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper_doc"))
        .withColumn("is_dup_group", F.col("n_dups") > 1)
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keeper_doc,
       count(*) > 1 AS is_dup_group
FROM documents GROUP BY 1
"""


# distinct word-3-gram shingles per document.
# Row-local array formulation (round 4): transform(sequence(...)) builds
# every shingle inside whole-stage codegen and array_distinct dedups
# per doc BEFORE the explode — the previous lead()-window formulation
# shuffled every word of the corpus on doc_id and ran a global
# distinct, two full exchanges that dominate at 100 TB. Same shingle
# sets (per-doc distinct == global distinct on (doc_id, shingle)).
def _spark_shingles(docs: DataFrame) -> DataFrame:
    return (
        docs
        .withColumn("w", F.split("text", " "))
        .where(F.size("w") >= 3)
        .select("doc_id", F.explode(F.expr(
            "array_distinct(transform(sequence(0, size(w) - 3), "
            "i -> concat_ws(' ', w[i], w[i + 1], w[i + 2])))")).alias("shingle"))
    )


_SQL_SHINGLES = """
SELECT DISTINCT doc_id, concat_ws(' ', word, w1, w2) AS shingle
FROM (
  SELECT doc_id, word, pos,
         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
         lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
  )
) WHERE w2 IS NOT NULL
"""

_JACCARD_THRESHOLD = 0.5
# Hot-shingle cap: a corpus-frequent shingle ("terms of service ...") makes
# the shingle self-join emit O(df^2) candidate rows — quadratic at 100 TB.
# Shingles with document frequency above the cap are dropped from the sets
# entirely (sizes AND intersections), the standard SPEX/suffix-filter trick;
# boilerplate shingles carry no near-dup signal anyway.
_MAX_SHINGLE_DF = 100


def q_dedup_ngram_jaccard(spark, sf_dir):
    raw = _spark_shingles(load(spark, sf_dir, "documents"))
    df_per_shingle = raw.groupBy("shingle").agg(F.count("*").alias("df"))
    # materialize once for the three consumers (sizes + both self-join
    # sides) — GC-scoped localCheckpoint instead of cache(): a persist
    # here was never unpersisted, leaking a cached DF into the session
    # per invocation.
    # Fault-tolerance tradeoff: localCheckpoint TRUNCATES lineage, so on
    # a multi-executor cluster a lost executor makes these blocks
    # unrecoverable (persist would recompute them from lineage), and it
    # is unsafe under dynamic allocation (decommission drops blocks). On
    # clusters that need either guarantee, set spark.checkpoint.dir and
    # use reliable .checkpoint() here; the GC-scoped local variant is the
    # right default for the single-JVM bench/driver environment this
    # repo targets.
    shingles = (
        raw.join(df_per_shingle.where(F.col("df") <= _MAX_SHINGLE_DF), "shingle")
        .select("doc_id", "shingle")
        .localCheckpoint(eager=True)
    )
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", F.round(
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6))
        .where(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH raw_shingles AS ({_SQL_SHINGLES}),
shingles AS (
  SELECT doc_id, shingle FROM raw_shingles
  WHERE shingle IN (
    SELECT shingle FROM raw_shingles GROUP BY shingle
    HAVING count(*) <= {_MAX_SHINGLE_DF}
  )
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter / (sa.n + sb.n - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / (sa.n + sb.n - n_inter), 6) >= {_JACCARD_THRESHOLD}
"""

_N_MINHASH = 8
_BAND_SIZE = 2  # -> 4 bands


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding. Shingles build row-locally (shuffle-free,
    see _spark_shingles); each shingle row evaluates its 8 md5s as 8
    codegen'd COLUMNS feeding one min-aggregation per hash — no
    explode x8 row blowup and ONE groupBy(doc_id) shuffle where the
    round-5 plan had two ((doc, h) min then (doc, band) collect_list).
    The band signature assembles row-locally: within a band the
    "h:minhash" entries sort lexicographically by the single-digit h
    (h < 10), so array_sort(collect_list(...)) reduces to simple
    h-ordered concatenation. A fully array-local formulation (no
    explode at all) was tried in round 4 and regressed ~3x — nested
    higher-order functions drop out of whole-stage codegen — but plain
    md5 columns on exploded shingle rows stay codegen'd. Signatures,
    results and oracle unchanged."""
    docs = load(spark, sf_dir, "documents")
    # the documents table is a few small parquet files -> 1-2 scan
    # partitions; spread the md5-heavy shingle hashing across the
    # cluster before the fold (values unaffected)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    shingles = _spark_shingles(docs)
    sig = shingles.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat_ws(
            "|", F.lit(str(h)), "shingle"))).alias(f"m{h}")
        for h in range(_N_MINHASH)
    ])
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[
                F.concat_ws(":", F.lit(str(h)), f"m{h}")
                for h in range(b * _BAND_SIZE, (b + 1) * _BAND_SIZE)
            ]).alias("band_sig"))
        for b in range(_N_MINHASH // _BAND_SIZE)
    ]
    bands = (
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bs"))
        .select("doc_id", "bs.band", "bs.band_sig")
        # both sides of the self-join would re-execute the whole
        # shingle+md5 lineage (Catalyst does not dedup join branches);
        # the band table is tiny (bands-per-doc rows), so materialize it
        # once — GC-scoped, no lingering persist
        .localCheckpoint(eager=True)
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_sig") == F.col("b.band_sig"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


SQL_DEDUP_MINHASH_LSH = f"""
WITH shingles AS ({_SQL_SHINGLES}),
sig AS (
  SELECT doc_id, h, min(md5(concat_ws('|', CAST(h AS VARCHAR), shingle))) AS minhash
  FROM shingles CROSS JOIN (SELECT unnest(range({_N_MINHASH})) AS h)
  GROUP BY doc_id, h
),
bands AS (
  SELECT doc_id, CAST(h // {_BAND_SIZE} AS INT) AS band,
         string_agg(concat_ws(':', CAST(h AS VARCHAR), minhash), '|' ORDER BY concat_ws(':', CAST(h AS VARCHAR), minhash)) AS band_sig
  FROM sig GROUP BY 1, 2
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
"""

def connected_components(docs, pairs, max_rounds: int = 60):
    """Connected components over an undirected pair list: every doc's
    cluster_id becomes the smallest doc_id in its component (the
    canonical dedup representative).

    Deterministic min-label propagation PLUS pointer jumping: each round
    a doc's label becomes min(own, neighbors' labels), then is shortcut
    to its label's label. The shortcut halves the effective distance to
    the component minimum every round, so convergence is O(log diameter)
    — a 200-node path component converges in ~9 rounds, not 199. Each
    round is two equi-joins + a min-agg; all data stays executor-side,
    the driver loop only reads the convergence counter.

    Lineage discipline: intermediate labels persist (bounds recompute)
    and `localCheckpoint` every 5 rounds (bounds logical-plan growth on
    adversarial chain graphs); the RETURNED frame is a lineage-free
    localCheckpoint with the loop cache already released — callers hold
    no hidden persist. Raises instead of silently returning
    non-converged labels if `max_rounds` is hit (ADVICE r3)."""
    edges = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .unionByName(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .persist()
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("cluster_id")).persist()
    labels.count()
    converged = False
    for rnd in range(1, max_rounds + 1):
        nb = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src").agg(F.min("cluster_id").alias("nb_min"))
        )
        prop = (
            labels.join(nb, labels["doc_id"] == nb["src"], "left")
            .select(labels["doc_id"],
                    F.least(labels["cluster_id"],
                            F.coalesce(nb["nb_min"], labels["cluster_id"])
                            ).alias("cluster_id"))
        )
        # pointer jumping: label <- label(label). Labels are always doc
        # ids inside the same component, so the shortcut stays in the
        # component and is monotone toward its minimum.
        shortcut = labels.select(F.col("doc_id").alias("lbl_doc"),
                                 F.col("cluster_id").alias("lbl_lbl"))
        new_labels = (
            prop.join(shortcut, prop["cluster_id"] == shortcut["lbl_doc"], "left")
            .select(prop["doc_id"],
                    F.least(prop["cluster_id"],
                            F.coalesce("lbl_lbl", prop["cluster_id"])
                            ).alias("cluster_id"))
        )
        if rnd % 5 == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds "
            "(component min-eccentricity > 2^rounds is not plausible — "
            "check the edge list)")
    out = labels.localCheckpoint(eager=True)
    labels.unpersist()
    return out


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER ASSIGNMENT: connected components over the
    MinHash-LSH candidate pairs (see connected_components for the
    propagation + pointer-jumping scheme and its lineage discipline).
    Large-scale dedup needs which docs to keep, not just candidate
    pairs — every doc's cluster_id is the smallest doc_id in its
    component."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id").distinct()
    return connected_components(docs, pairs)


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE lsh_pairs AS ({SQL_DEDUP_MINHASH_LSH}),
cc_edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM lsh_pairs
),
docs AS (SELECT DISTINCT doc_id FROM documents),
reach(doc, lbl) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT e.src, r.lbl FROM cc_edges e JOIN reach r ON r.doc = e.dst
)
SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc
"""


# ------------------------------------------- decontamination + repetition

# held-out "benchmark" slice of the documents table (by construction the
# lowest doc_ids) — stands in for an eval set a training pipeline must
# scrub against
_N_BENCH = 25


def q_decontam_ngram_overlap(spark, sf_dir):
    """Benchmark DECONTAMINATION: find training documents sharing any
    word-3-gram with a held-out benchmark set — the standard scrub a
    training pipeline runs so eval data does not leak into training.

    Scalable shape: the benchmark shingle set is small by construction
    (eval sets are thousands of docs, not billions), so it broadcasts;
    the training side streams through one equi-join on the shingle —
    no all-pairs, no shuffle of the training side."""
    sh = _spark_shingles(load(spark, sf_dir, "documents"))
    bench = sh.where(F.col("doc_id") < _N_BENCH).select(
        F.col("doc_id").alias("bench_id"), "shingle")
    train = sh.where(F.col("doc_id") >= _N_BENCH)
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
    )


SQL_DECONTAM_NGRAM_OVERLAP = f"""
WITH sh AS ({_SQL_SHINGLES})
SELECT t.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS n_shared
FROM sh t JOIN sh b ON t.shingle = b.shingle
WHERE b.doc_id < {_N_BENCH} AND t.doc_id >= {_N_BENCH}
GROUP BY 1, 2
"""


def q_repetition_ratio(spark, sf_dir):
    """Intra-document repetition (Gopher-style quality rule): the
    fraction of a document's word-3-grams that are duplicates of an
    earlier gram in the same document. Pure groupBy/agg — partial
    aggregation map-side, one narrow shuffle on doc_id."""
    docs = load(spark, sf_dir, "documents")
    # row-local gram construction (see _spark_shingles); counts stay
    # per-row array ops — only the final per-doc agg touches a shuffle
    grams = (
        docs
        .withColumn("w", F.split("text", " "))
        .where(F.size("w") >= 3)
        .select("doc_id", F.expr(
            "transform(sequence(0, size(w) - 3), "
            "i -> concat_ws(' ', w[i], w[i + 1], w[i + 2]))").alias("g"))
    )
    # doc_id is unique in the documents table, so the per-row array
    # sizes ARE the per-doc aggregates — the whole query is one
    # shuffle-free codegen stage
    per = grams.select(
        "doc_id",
        F.size("g").cast("long").alias("n_grams"),
        F.size(F.array_distinct("g")).cast("long").alias("n_distinct"))
    return per.select(
        "doc_id", "n_grams", "n_distinct",
        F.round(F.lit(1.0) - F.col("n_distinct").cast("double")
                / F.col("n_grams").cast("double"), 6).alias("rep_ratio"))


SQL_REPETITION_RATIO = """
WITH grams AS (
  SELECT doc_id, concat_ws(' ', word, w1, w2) AS gram
  FROM (
    SELECT doc_id, word, pos,
           lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
           lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    )
  ) WHERE w2 IS NOT NULL
)
SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct,
       round(1.0 - CAST(count(DISTINCT gram) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS rep_ratio
FROM grams GROUP BY doc_id
"""


_SIMHASH_BITS = 16


def q_simhash(spark, sf_dir):
    """SimHash fingerprint, fully row-local (round 4): word hashes,
    per-bit integer votes, and the bit assembly all fold over arrays
    inside whole-stage codegen — no words x bits explode, no two
    aggregation shuffles. Votes are integers, so the fold order cannot
    change the result vs the oracle's SUM."""
    docs = load(spark, sf_dir, "documents")
    hashes = docs.select("doc_id", F.expr(
        "transform(array_distinct(split(text, ' ')), word -> "
        "CAST(conv(substring(md5(word), 1, 15), 16, 10) AS BIGINT))").alias("hs"))
    return hashes.select("doc_id", F.expr(
        "aggregate(transform(sequence(0, %d), b -> "
        "IF(aggregate(hs, CAST(0 AS BIGINT), (acc, h) -> acc + "
        "IF((shiftright(h, CAST(b AS INT)) & 1) = 1, CAST(1 AS BIGINT), "
        "CAST(-1 AS BIGINT))) >= 0, "
        "shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        % (_SIMHASH_BITS - 1)).alias("simhash"))


SQL_SIMHASH = f"""
WITH words AS (
  SELECT DISTINCT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  )
),
bits AS (
  SELECT doc_id, b,
         CASE WHEN ({_sql_hex60("md5(word)")} >> b) & 1 = 1 THEN 1 ELSE -1 END AS vote
  FROM words CROSS JOIN (SELECT unnest(range({_SIMHASH_BITS})) AS b)
),
votes AS (SELECT doc_id, b, sum(vote) AS v FROM bits GROUP BY 1, 2)
SELECT doc_id,
       -- CAST: DuckDB sum() over integers is HUGEINT; Spark emits BIGINT and
       -- the driver's typed value-hash requires both sides int64.
       CAST(sum(CASE WHEN v >= 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


# ---------------------------------------------------------------- embeddings

_TOPK = 5
_N_ANCHORS = 100  # anchor set keeps the sandbox cross join bounded


def q_embedding_topk_cosine(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    norm = F.sqrt(F.aggregate(
        F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    emb = emb.withColumn("nrm", norm)
    # single-file scan -> 1 partition; the broadcast join parallelizes
    # over the stream (anchor) side, so spread it
    a = emb.where(F.col("vec_id") < _N_ANCHORS).repartition(
        spark.sparkContext.defaultParallelism).select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    cand = (
        a.join(F.broadcast(b), F.col("vec_a") != F.col("vec_b"))
        .withColumn("sim", F.round(dot / (F.col("na") * F.col("nb")), 6))
    )
    w = Window.partitionBy("vec_a").orderBy(F.col("sim").desc(), F.col("vec_b").asc())
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOPK)
        .select("vec_a", "vec_b", "sim", "rk")
    )


def q_embedding_topk_blocked(spark, sf_dir):
    """Exact cosine top-k, the 100 TB SCALE PATH (same results and same
    DuckDB oracle as q_embedding_topk_cosine, which is the labeled
    brute-force twin): anchors travel ONCE as a broadcast variable;
    each embeddings partition computes the (anchors x block) similarity
    matrix inside one Arrow kernel and emits only its per-anchor
    PARTIAL top-k, so the only shuffle is the tiny
    (n_anchors x k x n_partitions) winner set — no |A| x |B| row
    explosion through the JVM, no full-side broadcast join, no global
    window sort over all pairs.

    Float discipline: dot products and norms accumulate dimension-by-
    dimension (64 vectorized outer-product adds) — bit-identical to the
    left-to-right fold of Spark's zip_with/aggregate and DuckDB's
    list_sum, so round(sim, 6) agrees with the oracle everywhere
    (pairwise/SIMD GEMM summation could flip a rounding boundary).
    Partial ties are exact: batch rows are pre-sorted by vec_id and the
    per-anchor sort is stable on -sim, reproducing the global
    (sim DESC, vec_b ASC) order."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    # bounded anchor set by contract; at scale the anchor side is
    # blocked the same way and this collect becomes a per-block scan
    a_rows = sorted(emb.where(F.col("vec_id") < _N_ANCHORS).collect(),
                    key=lambda r: r["vec_id"])
    a_ids = np.array([r["vec_id"] for r in a_rows], dtype=np.int64)
    A = np.array([list(r["v"]) for r in a_rows], dtype=np.float64)
    dims = A.shape[1]
    a_nrm = np.zeros(len(A))
    for d in range(dims):          # dim-ordered fold (oracle-identical)
        a_nrm += A[:, d] * A[:, d]
    a_nrm = np.sqrt(a_nrm)
    bc = spark.sparkContext.broadcast((a_ids, A, a_nrm))

    def kernel(batches):
        ids_a, Am, An = bc.value
        na = len(ids_a)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values("vec_id", kind="stable")
            ids_b = pdf["vec_id"].to_numpy(dtype=np.int64)
            V = np.array([list(v) for v in pdf["v"]], dtype=np.float64)
            nb = len(V)
            b_nrm = np.zeros(nb)
            S = np.zeros((na, nb))
            for d in range(V.shape[1]):
                b_nrm += V[:, d] * V[:, d]
                S += Am[:, d][:, None] * V[:, d][None, :]
            raw = S / (An[:, None] * np.sqrt(b_nrm)[None, :])
            # HALF_UP (away from zero), matching Spark's round() and the
            # DuckDB oracle — np.round is half-to-even and could flip a
            # value sitting exactly on a 6-dp half boundary
            sim = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
            sim[ids_a[:, None] == ids_b[None, :]] = -np.inf  # self pairs
            k = min(_TOPK, nb)
            order = np.argsort(-sim, axis=1, kind="stable")[:, :k]
            rows_a = np.repeat(ids_a, k)
            rows_b = ids_b[order.ravel()]
            rows_s = sim[np.repeat(np.arange(na), k), order.ravel()]
            keep = np.isfinite(rows_s)
            yield pd.DataFrame({"vec_a": rows_a[keep],
                                "vec_b": rows_b[keep],
                                "sim": rows_s[keep]})

    partial = emb.mapInPandas(
        kernel, "vec_a long, vec_b long, sim double")
    w = Window.partitionBy("vec_a").orderBy(
        F.col("sim").desc(), F.col("vec_b").asc())
    return (
        partial.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOPK)
        .select("vec_a", "vec_b", "sim", "rk")
    )


SQL_EMBEDDING_TOPK_COSINE = f"""
WITH e AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_sum(list_transform(range(1, 65),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
               / (a.nrm * b.nrm), 6) AS sim
  FROM e a JOIN e b ON a.vec_id < {_N_ANCHORS} AND a.vec_id <> b.vec_id
)
SELECT vec_a, vec_b, sim, rk FROM (
  SELECT vec_a, vec_b, sim,
         row_number() OVER (PARTITION BY vec_a ORDER BY sim DESC, vec_b ASC) AS rk
  FROM cand
) WHERE rk <= {_TOPK}
"""

_N_PLANES = 8
_NEARDUP_THRESHOLD = 0.40  # synthetic embeddings are near-orthogonal; 0.4 keeps a small real pair set


_EMB_DIM = 64  # embeddings table contract (oracles hard-code range(1, 65))


def _plane_weight_literal(n_planes: int, dim: int = _EMB_DIM) -> str:
    """±1 hyperplane weights as a nested array literal. The weights
    depend only on (plane j, dim d) — n_planes x dim constants — so
    they are derived ONCE driver-side with hashlib.md5 (bit-identical
    to the oracle's md5 hex: first 15 hex chars -> int, parity) instead
    of re-evaluating md5 per (row, plane, dim) on executors."""
    import hashlib

    rows = []
    for j in range(n_planes):
        vals = []
        for d in range(dim):
            hx = hashlib.md5(f"{j}_{d}".encode()).hexdigest()[:15]
            vals.append("1.0D" if int(hx, 16) % 2 == 0 else "-1.0D")
        rows.append("array(" + ",".join(vals) + ")")
    return "array(" + ",".join(rows) + ")"


def _spark_lsh_bits(spark, sf_dir):
    """Random-hyperplane sign bits per (vec_id, plane j).

    Plane weights are md5-seeded ±1 (portable to the DuckDB oracle); the
    per-plane dot is rounded before the sign threshold because Spark's
    partial-agg sum order is nondeterministic and a near-zero dot must not
    flip sign vs the oracle's sequential sum.

    Plan (round 5, measured at 200k rows / 64 dims / 8 planes on
    local[32], median of 3): the weights are a constant (j, d) matrix,
    so they fold into a nested array LITERAL and the per-plane dot is a
    row-local sequential fold over it — 1.65 s, vs 12.1 s for the
    round-4 md5-inside-the-fold formulation (the md5 evaluation per
    (row, plane, dim) was the real cost, not the interpreted HOF
    fallback) and 2.9 s for a fully unrolled 512-term codegen
    expression (wider whole-stage codegen but a much bigger expression
    tree). The fold's left-assoc order matches the oracle's sequential
    sum exactly; the 6-dp round before the sign threshold stays as
    belt-and-braces."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    # small single-file table -> 1 scan partition; spread the
    # per-plane folds across the cluster
    emb = emb.repartition(spark.sparkContext.defaultParallelism)
    lit = _plane_weight_literal(_N_PLANES)
    dots = emb.select("vec_id", F.posexplode(F.expr(
        f"transform(sequence(0, {_N_PLANES - 1}), j -> round(aggregate("
        f"sequence(0, size(v) - 1), CAST(0.0 AS DOUBLE), "
        f"(acc, d) -> acc + v[d] * {lit}[j][d]), 6))"
        )).alias("j", "dot"))
    return dots.withColumn(
        "bit", F.when(F.col("dot") >= 0, F.lit(1)).otherwise(F.lit(0)))


def _spark_lsh_bits_array(spark, sf_dir):
    """Row-local variant of _spark_lsh_bits: (vec_id, bits array<int>)
    with bits[j] the sign bit of plane j — same literal-folded dots and
    6-dp round, no (vec, j) explode. Consumers that need per-row band
    keys or buckets derive them with array indexing inside the same
    codegen stage instead of re-aggregating exploded rows."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    emb = emb.repartition(spark.sparkContext.defaultParallelism)
    lit = _plane_weight_literal(_N_PLANES)
    return emb.select("vec_id", F.expr(
        f"transform(sequence(0, {_N_PLANES - 1}), j -> IF(round(aggregate("
        f"sequence(0, size(v) - 1), CAST(0.0 AS DOUBLE), "
        f"(acc, d) -> acc + v[d] * {lit}[j][d]), 6) >= 0, 1, 0))"
        ).alias("bits"))


def q_ann_lsh_buckets(spark, sf_dir):
    bits = _spark_lsh_bits(spark, sf_dir)
    return (
        bits.withColumn(
            "bitval",
            F.expr("shiftleft(CAST(bit AS BIGINT), CAST(j AS INT))"))
        .groupBy("vec_id")
        .agg(F.sum("bitval").alias("bucket"))
    )


_SQL_LSH_BITS = f"""
comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
dots AS (
  SELECT vec_id, j,
         round(sum(x * CASE WHEN {_sql_hex60("md5(concat_ws('_', CAST(j AS VARCHAR), CAST(d AS VARCHAR)))")} % 2 = 0
                      THEN 1.0 ELSE -1.0 END), 6) AS dot
  FROM comp CROSS JOIN (SELECT unnest(range({_N_PLANES})) AS j)
  GROUP BY vec_id, j
),
bits AS (
  SELECT vec_id, j, CASE WHEN dot >= 0 THEN 1 ELSE 0 END AS bit FROM dots
)"""

SQL_ANN_LSH_BUCKETS = f"""
WITH {_SQL_LSH_BITS}
SELECT vec_id,
       CAST(sum(CAST(bit AS BIGINT) << j) AS BIGINT) AS bucket
FROM bits GROUP BY vec_id
"""

_LSH_BAND_PLANES = 2  # -> 4 bands of 2 sign bits each


def q_ann_bucket_join(spark, sf_dir):
    """ANN candidate-pair join: the query that makes the LSH buckets useful.

    Signatures are banded (4 bands x 2 planes); any shared (band, band key)
    makes a candidate pair, which is then verified with the exact cosine and
    thresholded. At scale this is an equi-join on (band, key) with bounded
    bucket sizes — never all-pairs; multi-band collision probability
    1-(1-p^2)^4 keeps recall high where single-bucket 8-bit agreement
    (p^8) would not.
    """
    # band keys assemble ROW-LOCALLY from the per-plane sign bits (the
    # round-5 plan exploded to (vec, j) rows and re-aggregated them by
    # (vec, band) — a full shuffle to regroup values that never left
    # their row): bkey for band b is bit(2b) + 2*bit(2b+1), exactly the
    # old sum(shiftleft(bit, j % 2)) per band, emitted as 4 struct rows
    # per vector with no exchange before the self-join.
    bits_arr = _spark_lsh_bits_array(spark, sf_dir)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.expr("CAST(" + " + ".join(
                f"shiftleft(CAST(bits[{b * _LSH_BAND_PLANES + i}] AS BIGINT), {i})"
                for i in range(_LSH_BAND_PLANES)) + " AS BIGINT)").alias("bkey"))
        for b in range(_N_PLANES // _LSH_BAND_PLANES)
    ]
    bands = (
        bits_arr.select("vec_id", F.explode(F.array(*band_structs)).alias("bs"))
        .select("vec_id", "bs.band", "bs.bkey")
        # materialize once: the self-join would otherwise evaluate the
        # per-plane dot folds twice (GC-scoped, tiny table)
        .localCheckpoint(eager=True)
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    norm = F.sqrt(F.aggregate(
        F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    emb = emb.withColumn("nrm", norm)
    ea = emb.select(F.col("vec_id").alias("vec_a"),
                    F.col("v").alias("va"), F.col("nrm").alias("na"))
    eb = emb.select(F.col("vec_id").alias("vec_b"),
                    F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    return (
        cand.join(ea, "vec_a").join(eb, "vec_b")
        .withColumn("sim", F.round(dot / (F.col("na") * F.col("nb")), 6))
        .where(F.col("sim") >= _NEARDUP_THRESHOLD)
        .select("vec_a", "vec_b", "sim")
    )


SQL_ANN_BUCKET_JOIN = f"""
WITH {_SQL_LSH_BITS},
bands AS (
  SELECT vec_id, CAST(j // {_LSH_BAND_PLANES} AS INT) AS band,
         CAST(sum(CAST(bit AS BIGINT) << (j % {_LSH_BAND_PLANES})) AS BIGINT) AS bkey
  FROM bits GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
),
e AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT vec_a, vec_b, sim FROM (
  SELECT vec_a, vec_b,
         round(list_sum(list_transform(range(1, 65),
                 i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
               / (ea.nrm * eb.nrm), 6) AS sim
  FROM cand JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b
) WHERE sim >= {_NEARDUP_THRESHOLD}
"""


# ---------------------------------------------------------------- text QA

_MARKERS_A = ["table", "row", "scan"]
_MARKERS_B = ["spark", "hash", "merge"]
_STOPWORDS = ["a", "the", "of", "and"]


def _count_words(col, words):
    arr = F.split(col, " ")
    return F.size(F.filter(arr, lambda w: w.isin(words)))


def q_langid_heuristic(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    ca = _count_words(F.col("text"), _MARKERS_A)
    cb = _count_words(F.col("text"), _MARKERS_B)
    pred = (
        F.when(ca > cb, "dialect-a")
        .when(cb > ca, "dialect-b")
        .otherwise("unknown")
    )
    return (
        docs.select("lang", pred.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


SQL_LANGID_HEURISTIC = f"""
SELECT lang, predicted, count(*) AS n FROM (
  SELECT lang, CASE
    WHEN len(list_filter(string_split(text, ' '), w -> w IN ({", ".join(repr(w) for w in _MARKERS_A)})))
       > len(list_filter(string_split(text, ' '), w -> w IN ({", ".join(repr(w) for w in _MARKERS_B)})))
      THEN 'dialect-a'
    WHEN len(list_filter(string_split(text, ' '), w -> w IN ({", ".join(repr(w) for w in _MARKERS_B)})))
       > len(list_filter(string_split(text, ' '), w -> w IN ({", ".join(repr(w) for w in _MARKERS_A)})))
      THEN 'dialect-b'
    ELSE 'unknown' END AS predicted
  FROM documents
) GROUP BY 1, 2
"""


def q_quality_score(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    stop = _count_words(F.col("text"), _STOPWORDS)
    d = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(F.length("text") / n_words.cast("double"), 6).alias("avg_token_len"),
        F.round(stop / n_words.cast("double"), 6).alias("stopword_ratio"),
    )
    return d.withColumn(
        "quality_bucket",
        F.when((F.col("n_words") >= 20) & (F.col("stopword_ratio") < 0.3), "good")
        .when(F.col("n_words") >= 10, "fair")
        .otherwise("poor"),
    )


SQL_QUALITY_SCORE = f"""
SELECT doc_id, n_words, avg_token_len, stopword_ratio,
       CASE WHEN n_words >= 20 AND stopword_ratio < 0.3 THEN 'good'
            WHEN n_words >= 10 THEN 'fair' ELSE 'poor' END AS quality_bucket
FROM (
  SELECT doc_id, len(string_split(text, ' ')) AS n_words,
         round(length(text) / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_token_len,
         round(len(list_filter(string_split(text, ' '),
                   w -> w IN ({", ".join(repr(w) for w in _STOPWORDS)})))
               / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stopword_ratio
  FROM documents
)
"""


def q_token_count(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            F.size(F.split("text", " ")).alias("ws_tokens"),
            F.regexp_count("text", F.lit("[a-z]+")).alias("re_tokens"),
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("ws_tokens").alias("total_ws_tokens"),
             F.sum("re_tokens").alias("total_re_tokens"))
    )


SQL_TOKEN_COUNT = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS total_re_tokens
FROM documents GROUP BY lang
"""


def q_doc_fingerprint(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.substring(F.md5(norm), 1, 8).alias("bucket8"),
    )


SQL_DOC_FINGERPRINT = """
SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint,
       substr(md5(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 8) AS bucket8
FROM documents
"""



def q_binary_asset_stats(spark, sf_dir):
    """Binary-column handling with an oracle: documents text re-encoded
    as bytes (an opaque binary payload), sized and fingerprinted
    JVM-side."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
            F.md5(F.encode("text", "UTF-8")).alias("payload_md5"),
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n_assets"),
             F.sum("n_bytes").alias("total_bytes"),
             F.min("payload_md5").alias("first_md5"))
    )


SQL_BINARY_ASSET_STATS = """
SELECT lang, count(*) AS n_assets,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       min(md5(text)) AS first_md5
FROM documents GROUP BY lang
"""



def q_embedding_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (the dedup decision the
    top-k query ranks): all a<b pairs above the threshold."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    norm = F.sqrt(F.aggregate(
        F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    emb = emb.withColumn("nrm", norm)
    # single-file scan -> 1 partition; the broadcast nested-loop join
    # parallelizes over the STREAM side, so spread it (values unchanged)
    a = emb.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", F.round(dot / (F.col("na") * F.col("nb")), 6))
        .where(F.col("sim") >= _NEARDUP_THRESHOLD)
        .select("vec_a", "vec_b", "sim")
    )


SQL_EMBEDDING_COSINE_NEARDUP = f"""
WITH e AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT vec_a, vec_b, sim FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_sum(list_transform(range(1, 65),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
               / (a.nrm * b.nrm), 6) AS sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE sim >= {_NEARDUP_THRESHOLD}
"""

_IVF_K = 16


def _ivf_trained_centroids(emb: DataFrame) -> DataFrame:
    """Trained IVF coarse quantizer: one deterministic Lloyd iteration.

    Seeds are the K lowest-id vectors; every vector is assigned to its
    nearest seed (L2, ties on centroid id); the trained centroid is the
    per-dimension mean of its assigned vectors, rounded to 4 dp. The
    rounding makes the quantizer identical across engines and
    partitionings (a distributed double sum is order-sensitive at the
    ~1e-15 level; 4 dp leaves a 5e-5 margin). Empty cells keep no
    centroid row — every seed is its own nearest vector, so cells are
    never empty after one iteration."""
    seeds = emb.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("c"))
    d2 = F.aggregate(
        F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)
    cand = emb.crossJoin(F.broadcast(seeds)).withColumn("d2", d2)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("d2").asc(), F.col("centroid_id").asc())
    assign0 = (cand.withColumn("rk", F.row_number().over(w))
               .where(F.col("rk") == 1).select("vec_id", "centroid_id", "v"))
    dims = assign0.select("centroid_id", F.posexplode("v").alias("pos", "val"))
    means = dims.groupBy("centroid_id", "pos").agg(
        F.round(F.avg("val"), 4).alias("cv"))
    out = means.groupBy("centroid_id").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                    lambda s: s["cv"]).alias("c"))
    # K tiny rows consumed by several plan branches (assign, probe,
    # recall teeth) — materialize once so every branch doesn't re-run
    # the Lloyd iteration (GC-scoped, no lingering persist)
    return out.localCheckpoint(eager=True)


# DuckDB mirror of _ivf_trained_centroids; the final centroid is built
# as an ORDERED list so downstream list_transform folds sum the 64 dims
# in the same order Spark's F.aggregate does
_SQL_IVF_TRAINED = f"""
e AS (SELECT vec_id, embedding FROM embeddings),
seed_dist AS (
  SELECT a.vec_id, b.vec_id AS centroid_id,
         list_sum(list_transform(range(1, 65),
              i -> (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
                 * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))) AS d2
  FROM e a JOIN e b ON b.vec_id < {_IVF_K}
),
assign0 AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC) AS rk
    FROM seed_dist
  ) WHERE rk = 1
),
trained_dim AS (
  SELECT a0.centroid_id, t.i AS pos,
         round(avg(CAST(e.embedding[t.i] AS DOUBLE)), 4) AS cv
  FROM assign0 a0
  JOIN e ON e.vec_id = a0.vec_id
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
  GROUP BY a0.centroid_id, t.i
),
trained AS (
  SELECT centroid_id, list(cv ORDER BY pos) AS c
  FROM trained_dim GROUP BY centroid_id
)"""


def q_ann_ivf_assign(spark, sf_dir):
    """IVF coarse-quantizer assignment (the scale path for ANN):
    centroids are TRAINED (one Lloyd iteration from the K lowest-id
    seeds, see _ivf_trained_centroids); every vector is assigned to its
    nearest trained centroid by L2, deterministic tie-break on
    centroid id."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = _ivf_trained_centroids(emb)
    l2 = F.sqrt(F.aggregate(
        F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x))
    # single-file scan -> 1 partition; spread the zip_with folds
    emb = emb.repartition(spark.sparkContext.defaultParallelism)
    cand = emb.crossJoin(F.broadcast(cents)).withColumn("l2", l2)
    w = Window.partitionBy("vec_id").orderBy(F.col("l2").asc(), F.col("centroid_id").asc())
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("vec_id", "centroid_id", F.round("l2", 6).alias("l2"))
    )


SQL_ANN_IVF_ASSIGN = f"""
WITH {_SQL_IVF_TRAINED},
cand AS (
  SELECT a.vec_id, b.centroid_id,
         sqrt(list_sum(list_transform(range(1, 65),
              i -> (CAST(a.embedding[i] AS DOUBLE) - b.c[i])
                 * (CAST(a.embedding[i] AS DOUBLE) - b.c[i])))) AS l2
  FROM e a CROSS JOIN trained b
)
SELECT vec_id, centroid_id, round(l2, 6) AS l2 FROM (
  SELECT vec_id, centroid_id, l2,
         row_number() OVER (PARTITION BY vec_id ORDER BY l2 ASC, centroid_id ASC) AS rk
  FROM cand
) WHERE rk = 1
"""


_IVF_NPROBE = 3
_IVF_TOPK = 3
_IVF_NQUERIES = 50
# recall floor for the in-query teeth assert (measured 0.65 / 0.65 on
# the synthetic embeddings at sf0.01 / sf0.1 with trained K=16 and
# nprobe=3; nprobe=2 measured 0.57 / 0.61)
_IVF_MIN_RECALL = 0.5


def q_ann_ivf_search(spark, sf_dir):
    """IVF search (the ANN scale path end-to-end): queries probe their
    `nprobe` nearest TRAINED coarse centroids (one Lloyd iteration, see
    _ivf_trained_centroids), candidates are the vectors assigned to
    those centroids (an equi-join on centroid_id — work is bounded by
    list sizes, never all-pairs), exact cosine ranks top-k. Teeth: the
    probe set's recall against the brute-force cosine top-k is computed
    in-query and asserted against _IVF_MIN_RECALL.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = _ivf_trained_centroids(emb)
    l2 = F.sqrt(F.aggregate(
        F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x))
    # single-file scan -> 1 partition; spread the zip_with folds
    emb = emb.repartition(spark.sparkContext.defaultParallelism)
    dist = emb.crossJoin(F.broadcast(cents)).withColumn("l2", l2)
    w = Window.partitionBy("vec_id").orderBy(F.col("l2").asc(), F.col("centroid_id").asc())
    ranked = dist.withColumn("rk", F.row_number().over(w))
    # inverted lists: every vector sits in exactly one centroid cell
    assign = ranked.where(F.col("rk") == 1).select(
        F.col("vec_id").alias("vec_b"), "centroid_id",
        F.col("v").alias("vb"))
    # probe lists: each query fans out to its nprobe nearest centroids
    probes = (
        ranked.where((F.col("rk") <= _IVF_NPROBE)
                     & (F.col("vec_id") < _IVF_NQUERIES))
        .select(F.col("vec_id").alias("vec_a"), "centroid_id",
                F.col("v").alias("va"))
    )
    norm_a = F.sqrt(F.aggregate(
        F.transform("va", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    norm_b = F.sqrt(F.aggregate(
        F.transform("vb", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    cand = (
        probes.join(assign, "centroid_id")
        .where(F.col("vec_a") != F.col("vec_b"))
        .withColumn("sim", F.round(dot / (norm_a * norm_b), 6))
        .select("vec_a", "vec_b", "sim").distinct()
    )
    w2 = Window.partitionBy("vec_a").orderBy(F.col("sim").desc(), F.col("vec_b").asc())
    out = (
        cand.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= _IVF_TOPK)
        .select("vec_a", "vec_b", "sim", "rk")
    )
    # teeth: probe-set recall vs the exact brute-force cosine top-k
    # (bounded: NQUERIES x n sims) must clear the floor
    brute = (
        emb.where(F.col("vec_id") < _IVF_NQUERIES)
        .select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
        .crossJoin(F.broadcast(emb.select(
            F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))))
        .where(F.col("vec_a") != F.col("vec_b"))
        .withColumn("sim", dot / (norm_a * norm_b))
    )
    brute_top = (
        brute.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= _IVF_TOPK).select("vec_a", "vec_b")
    )
    n_brute = brute_top.count()
    hits = out.select("vec_a", "vec_b").join(
        brute_top, ["vec_a", "vec_b"], "inner").count()
    recall = hits / max(n_brute, 1)
    assert recall >= _IVF_MIN_RECALL, (
        f"IVF recall {recall:.3f} < {_IVF_MIN_RECALL}")
    return out


SQL_ANN_IVF_SEARCH = f"""
WITH {_SQL_IVF_TRAINED},
dist AS (
  SELECT a.vec_id, b.centroid_id,
         sqrt(list_sum(list_transform(range(1, 65),
              i -> (CAST(a.embedding[i] AS DOUBLE) - b.c[i])
                 * (CAST(a.embedding[i] AS DOUBLE) - b.c[i])))) AS l2
  FROM e a CROSS JOIN trained b
),
ranked AS (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY l2 ASC, centroid_id ASC) AS rk
  FROM dist
),
assign AS (SELECT vec_id AS vec_b, centroid_id FROM ranked WHERE rk = 1),
probes AS (
  SELECT vec_id AS vec_a, centroid_id FROM ranked
  WHERE rk <= {_IVF_NPROBE} AND vec_id < {_IVF_NQUERIES}
),
nrm AS (
  SELECT vec_id,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
cand AS (
  SELECT DISTINCT vec_a, vec_b,
         round(list_sum(list_transform(range(1, 65),
                 i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
               / (na.nrm * nb.nrm), 6) AS sim
  FROM probes JOIN assign USING (centroid_id)
  JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b
  JOIN nrm na ON na.vec_id = vec_a JOIN nrm nb ON nb.vec_id = vec_b
  WHERE vec_a <> vec_b
)
SELECT vec_a, vec_b, sim, rk FROM (
  SELECT vec_a, vec_b, sim,
         row_number() OVER (PARTITION BY vec_a ORDER BY sim DESC, vec_b ASC) AS rk
  FROM cand
) WHERE rk <= {_IVF_TOPK}
"""


# ------------------------------------------ canonical-URL dedup (driver)
# Promoted to the driver record in round 6 (VERDICT r5 ask #1, replacing
# the redundant spark_native_blocks slot): the testdata tables carry no
# URL column, so both engines synthesize the SAME deterministic URL
# variants from doc_id (scheme/host case, default port, tracking params,
# trailing slash, fragment) and the Spark side then runs the REAL
# canonicalize_urls operator (pure JVM regexp chain) + one hash groupBy.

_SYNTH_URL_SQL = """concat(
  CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END,
  CASE WHEN doc_id % 3 = 0 THEN 'Docs.Example.COM' ELSE 'docs.example.com' END,
  CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
  '/corpus/', CAST(doc_id % 300 AS {str_t}),
  CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END,
  CASE WHEN doc_id % 11 = 0 THEN '?utm_source=feed&utm_campaign=x' ELSE '' END,
  CASE WHEN doc_id % 13 = 0 THEN '#section-2' ELSE '' END)"""


def q_dedup_canonical_url(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    pages = docs.selectExpr(
        "doc_id", _SYNTH_URL_SQL.format(str_t="STRING") + " AS url")
    return dedup_by_canonical_url(pages, "url")


SQL_DEDUP_CANONICAL_URL = f"""
WITH urls AS (
  SELECT doc_id, {_SYNTH_URL_SQL.format(str_t="VARCHAR")} AS url FROM documents
),
s0 AS (
  SELECT url, concat(
           lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1)),
           regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', '')) AS c
  FROM urls
),
s1 AS (SELECT url, regexp_replace(c, '#.*$', '') AS c FROM s0),
s2 AS (SELECT url, regexp_replace(c, '^(https?://[^/:]+):(80|443)(/|$)', '\\1\\3') AS c FROM s1),
s3 AS (SELECT url, regexp_replace(c, '([?&])(utm_[a-z]+|fbclid|gclid)=[^&#]*', '\\1', 'g') AS c FROM s2),
s4 AS (SELECT url, regexp_replace(c, '[?&]+$', '') AS c FROM s3),
s5 AS (SELECT url, regexp_replace(c, '\\?&', '?', 'g') AS c FROM s4),
s6 AS (SELECT url, regexp_replace(c, '&&+', '&', 'g') AS c FROM s5),
s7 AS (SELECT url, regexp_replace(c, '([^/])/\\?', '\\1?', 'g') AS c FROM s6),
s8 AS (SELECT url, regexp_replace(c, '^(\\w+://[^/]+/.+[^/])/$', '\\1') AS c FROM s7)
SELECT c AS url_canon, count(*) AS n_variants, min(url) AS keeper_url
FROM s8 GROUP BY 1
"""


CATALOG = {
    "dedup_exact": QueryDef(q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_ngram_jaccard": QueryDef(q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_minhash_lsh": QueryDef(q_dedup_minhash_lsh, SQL_DEDUP_MINHASH_LSH),
    "dedup_clusters": QueryDef(q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "simhash_fingerprint": QueryDef(q_simhash, SQL_SIMHASH),
    "embedding_topk_cosine": QueryDef(q_embedding_topk_cosine, SQL_EMBEDDING_TOPK_COSINE),
    "embedding_topk_blocked": QueryDef(q_embedding_topk_blocked, SQL_EMBEDDING_TOPK_COSINE),
    "ann_lsh_buckets": QueryDef(q_ann_lsh_buckets, SQL_ANN_LSH_BUCKETS),
    "ann_bucket_join": QueryDef(q_ann_bucket_join, SQL_ANN_BUCKET_JOIN),
    "decontam_ngram_overlap": QueryDef(q_decontam_ngram_overlap,
                                       SQL_DECONTAM_NGRAM_OVERLAP),
    "repetition_ratio": QueryDef(q_repetition_ratio, SQL_REPETITION_RATIO),
    "langid_heuristic": QueryDef(q_langid_heuristic, SQL_LANGID_HEURISTIC),
    "quality_score": QueryDef(q_quality_score, SQL_QUALITY_SCORE),
    "token_count": QueryDef(q_token_count, SQL_TOKEN_COUNT),
    "doc_fingerprint": QueryDef(q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "binary_asset_stats": QueryDef(q_binary_asset_stats, SQL_BINARY_ASSET_STATS),
    "embedding_cosine_neardup": QueryDef(q_embedding_cosine_neardup, SQL_EMBEDDING_COSINE_NEARDUP),
    "ann_ivf_assign": QueryDef(q_ann_ivf_assign, SQL_ANN_IVF_ASSIGN),
    "ann_ivf_search": QueryDef(q_ann_ivf_search, SQL_ANN_IVF_SEARCH),
    "dedup_canonical_url": QueryDef(q_dedup_canonical_url,
                                    SQL_DEDUP_CANONICAL_URL),
}


def canonicalize_urls(pages: "DataFrame", url_col: str = "url") -> "DataFrame":
    """URL canonicalization — the first dedup stage of a crawl pipeline
    (the same page is fetched as http/https, with/without fragment,
    with tracking params, trailing slashes, mixed-case hosts...).

    Pure JVM expressions (regexp_replace chain, no Python): lowercase
    scheme+host, drop the fragment, strip default ports, drop utm_* /
    fbclid / gclid tracking params (then a dangling '?'/'&'), and trim
    one trailing slash from non-root paths. Adds `url_canon`; dedup is
    then a plain groupBy on it.

    Returns pages + (url_canon string).
    """
    c = F.col(url_col)
    # lowercase scheme://host (up to the first '/' after '//')
    c = F.concat(
        F.lower(F.regexp_extract(c, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)", 1)),
        F.regexp_replace(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""))
    c = F.regexp_replace(c, r"#.*$", "")                       # fragment
    c = F.regexp_replace(c, r"^(https?://[^/:]+):(80|443)(/|$)", r"$1$3")
    c = F.regexp_replace(c, r"([?&])(utm_[a-z]+|fbclid|gclid)=[^&#]*", r"$1")
    c = F.regexp_replace(c, r"[?&]+$", "")                     # dangling sep
    c = F.regexp_replace(c, r"\?&", "?")
    c = F.regexp_replace(c, r"&&+", "&")
    # trailing slash of a non-root PATH, before query or at end
    c = F.regexp_replace(c, r"([^/])/\?", r"$1?")
    c = F.regexp_replace(c, r"^(\w+://[^/]+/.+[^/])/$", r"$1")
    return pages.withColumn("url_canon", c)


def dedup_by_canonical_url(pages: "DataFrame", url_col: str = "url") -> "DataFrame":
    """Keep one row per canonical URL (min original url as the
    deterministic keeper) — one hash groupBy, the standard pre-text
    dedup pass at crawl scale."""
    canon = canonicalize_urls(pages, url_col)
    return (
        canon.groupBy("url_canon")
        .agg(F.count("*").alias("n_variants"),
             F.min(url_col).alias("keeper_url"))
    )
