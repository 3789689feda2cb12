"""Training-data curation operators over ``documents`` (B-12 extension
surface, same contract as extensions.py): deterministic stratified
sampling, sequence packing, PII redaction, benchmark-contamination
detection.

The reference has no curation surface (it delegates all querying to the
destination database, README.md:221-224); these are the operations a
100 TB pretraining pipeline runs between collection and training, built
Spark-first: pure column expressions and keyed windows, no Python on the
hot path.

Determinism policy: "random" orderings are md5(doc_id) — identical hex
strings in Spark and DuckDB — so sampling is reproducible and
oracle-hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud2sql_spark.catalog import load_table
from cloud2sql_spark.queries.rounding import (
    ratio_round_oracle,
    ratio_round_spark,
)
from cloud2sql_spark.ntile_scale import (
    approx_ntile_enabled,
    boundary_aggs,
    bucket_score,
)
from cloud2sql_spark.queries.extensions import (
    _CAPPED_PAIRS_SQL,
    _LSH_BUCKETS_SQL,
    _SHINGLES_SQL,
    _int_dot,
    _lsh_bucket_frame,
    _quantized,
    _track,
)
from cloud2sql_spark.registry import register


@register(
    "sample_stratified",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang, source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
             count(*) OVER (PARTITION BY lang, source) AS stratum_n
      FROM documents)
    SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rk,
           CAST(stratum_n AS BIGINT) AS stratum_n
    FROM ranked
    WHERE rk <= ceil(0.1 * stratum_n)
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 10% stratified sample per (lang, source): rank docs inside
    each stratum by md5(doc_id) — a deterministic shuffle both engines
    hash identically — and keep the first ceil(0.1·n). Unlike
    ``df.sampleBy`` (Bernoulli, approximate counts, RNG-seeded), this
    yields the exact per-stratum quota reproducibly. One keyed window
    shuffle; strata partition the corpus, so at 100 TB each task sorts
    only its stratum slice (salt the window key if one stratum
    dominates)."""
    docs = load_table(spark, sf_dir, "documents")
    strat = Window.partitionBy("lang", "source")
    w = strat.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.row_number().over(w).cast("long").alias("rk"),
            F.count("*").over(strat).cast("long").alias("stratum_n"),
        )
        .filter(F.col("rk") <= F.ceil(0.1 * F.col("stratum_n")))
    )


@register(
    "pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    pref AS (
      SELECT doc_id, lang, n_tokens,
             coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prefix_tokens
      FROM toks)
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(prefix_tokens // 512 AS BIGINT) AS bin_id,
           CAST(prefix_tokens - (prefix_tokens // 512) * 512 AS BIGINT)
             AS offset_in_bin
    FROM pref
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: docs are laid end-to-end in
    deterministic (doc_id) order within each lang shard and cut into
    512-token bins — bin_id = exclusive-prefix-sum // 512. This is the
    streaming pack used by real pretraining pipelines (a bin may overrun
    by up to one doc; packers then truncate/pad), chosen over first-fit
    bin packing because it is ONE window scan — first-fit is inherently
    sequential state. At 100 TB the window partitions by shard key, so
    each task packs its shard independently — exactly how packed parquet
    shards are produced in practice."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = toks.withColumn(
        "prefix_tokens", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    bin_id = F.floor(F.col("prefix_tokens") / 512)
    return pref.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        bin_id.cast("long").alias("bin_id"),
        (F.col("prefix_tokens") - bin_id * 512).cast("long").alias("offset_in_bin"),
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


@register(
    "text_pii_redact",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.7 tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-0199' AS text
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_IPV4_RE}'))
                AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}'))
                AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_IPV4_RE}', '<IP>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM seeded
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: emails, IPv4s, and phone-shaped numbers replaced
    with typed placeholders, plus per-doc match counts. The fixture
    corpus carries no PII, so each doc is first seeded with a
    deterministic doc_id-derived email/IP/phone — proving every pattern
    fires on every row (the oracle seeds identically). Patterns are kept
    to the Java-regex ∩ RE2 common dialect so Spark and DuckDB match the
    same spans. Pure column expressions — JVM-side regex in whole-stage
    codegen, no UDF, embarrassingly parallel at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-0199"),
        ).alias("text"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
            _IPV4_RE,
            "<IP>",
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_IPV4_RE), 0)).cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)).cast("long").alias("n_phones"),
        red.alias("redacted"),
    )


@register(
    "text_contamination",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sg FROM w),
    eval_tok AS (SELECT doc_id AS eval_doc_id, unnest(sg) AS g
                 FROM sh WHERE doc_id % 7 = 0),
    train_tok AS (SELECT doc_id AS train_doc_id, unnest(sg) AS g
                  FROM sh WHERE doc_id % 7 != 0)
    SELECT t.train_doc_id, e.eval_doc_id,
           count(*) AS n_shared_shingles
    FROM train_tok t JOIN eval_tok e ON t.g = e.g
    GROUP BY t.train_doc_id, e.eval_doc_id
    HAVING count(*) >= 5
    """,
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: docs with doc_id % 7 == 0 stand in
    for a held-out eval set; any training doc sharing >= 5 word-3-gram
    shingles with an eval doc is flagged with the shared count (the
    n-gram-overlap decontamination rule used for pretraining corpora).
    The eval shingle index is tiny by construction (the eval set is
    bounded), so it is BROADCAST — the 100 TB train side streams past it
    map-side with zero shuffle before the final pair aggregation."""
    # Same cached shingle frame the dedup family shares (one Arrow-batched
    # build per session; nonempty drops only docs whose empty arrays would
    # explode to zero tokens anyway).
    from cloud2sql_spark.queries.extensions import _doc_shingles

    sh = _doc_shingles(spark, sf_dir, nonempty=True)
    tok = (
        sh.select("doc_id", F.explode_outer("sg").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    eval_tok = tok.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "g"
    )
    train_tok = tok.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("train_doc_id"), "g"
    )
    return (
        train_tok.join(F.broadcast(eval_tok), "g")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= 5)
    )


@register(
    "dedup_apply",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_CAPPED_PAIRS_SQL}),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
    lab AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
    drop_ids AS (SELECT doc_id FROM lab WHERE doc_id != cluster_id)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_ids)
    """,
)
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated corpus: documents minus every near-dup cluster member
    except the min-doc_id representative — dedup DETECTION
    (dedup_cluster_cc) actually APPLIED, which is the artifact a training
    pipeline ships. The drop list is the (tiny) set of non-representative
    cluster members, so the corpus-sized side is one broadcast anti-join
    — no shuffle of the 100 TB table."""
    from cloud2sql_spark.queries.extensions import dedup_cluster_cc

    clusters = dedup_cluster_cc(spark, sf_dir)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    docs = load_table(spark, sf_dir, "documents")
    return docs.join(F.broadcast(drop), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "sample_hash_consistent",
    oracle="""
    SELECT doc_id, lang, source,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '29'
    """,
)
def sample_hash_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent hash sample (~16%: md5 first byte < 0x29): the web-scale
    sampling idiom. Membership depends only on doc_id, so the sample is
    stable under corpus growth/reprocessing (a doc never flips in or out),
    strata can be compared across runs, and the filter is a pure codegen'd
    predicate — no shuffle, no RNG state, pushdown-friendly."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return docs.select(
        "doc_id", "lang", "source", bucket.alias("bucket")
    ).filter(bucket < "29")


@register(
    "sample_weighted",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             pow( (position(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                            IN '0123456789abcdef') - 1) / 16.0
                + (position(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)
                            IN '0123456789abcdef') - 1) / 256.0
                + (position(substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)
                            IN '0123456789abcdef') - 1) / 4096.0
                + (position(substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)
                            IN '0123456789abcdef') - 1) / 65536.0
                + (position(substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)
                            IN '0123456789abcdef') - 1) / 1048576.0
                + (position(substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)
                            IN '0123456789abcdef') - 1) / 16777216.0,
                1.0 / n_chars) AS k
      FROM documents)
    SELECT doc_id, n_chars
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT 25
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis): take
    the top-k documents by u^(1/w) where w = n_chars and u is a
    deterministic uniform built from md5(doc_id) hex digits — each digit
    contributes an exact dyadic term, so u is bit-identical across
    engines, and md5 replaces the RNG for reproducibility. The plan is
    TakeOrderedAndProject: O(k) memory per partition, one driver merge,
    no full sort — the same shape at 100 TB. The sort key itself is not
    output (pow may differ in the last ulp across libm implementations;
    ordering is unaffected for distinct keys)."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    alpha = F.lit("0123456789abcdef")
    u = None
    for i in range(1, 7):
        digit = F.position(F.substring(h, i, 1), alpha) - 1
        term = digit / F.lit(float(16**i))
        u = term if u is None else u + term
    k = F.pow(u, 1.0 / F.col("n_chars"))
    return (
        docs.select("doc_id", "n_chars", k.alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(25)
        .select("doc_id", "n_chars")
    )


@register(
    "text_normalize",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(
                  regexp_replace(lower(text), '[^a-z0-9 \\t\\n]', ' ', 'g'),
                  '\\s+', ' ', 'g')) AS norm_text
      FROM documents)
    SELECT doc_id, norm_text,
           CAST(len(string_split(norm_text, ' ')) AS INT) AS n_tokens
    FROM n
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (the pass every dedup/quality stage
    assumes): lowercase, strip non-alphanumerics to spaces, collapse runs
    of whitespace, trim — three codegen'd regex expressions, zero shuffle.
    Unicode NFC folding is out of scope here (both engines would need ICU
    for identical behavior); the ASCII subset is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 \t\n]", " "),
            r"\s+",
            " ",
        )
    )
    return docs.select("doc_id", norm.alias("norm_text")).select(
        "doc_id",
        "norm_text",
        F.size(F.split("norm_text", " ")).alias("n_tokens"),
    )


@register(
    "dedup_prefix_norm",
    oracle="""
    WITH n AS (
      SELECT doc_id, lang,
             substr(trim(regexp_replace(
                 regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                 ' +', ' ', 'g')), 1, 64) AS pfx
      FROM documents),
    g AS (SELECT pfx, min(doc_id) AS keep_id, count(*) AS n_dupes
          FROM n GROUP BY pfx)
    SELECT n.doc_id, n.lang, g.n_dupes
    FROM n JOIN g ON n.pfx = g.pfx AND n.doc_id = g.keep_id
    """,
)
def dedup_prefix_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-prefix dedup: canonicalize (lowercase, strip
    punctuation, collapse spaces), key on the first 64 chars, keep the
    min-id representative per key — the cheap URL/boilerplate dedup pass
    that runs BEFORE MinHash in real pipelines (one keyed shuffle on a
    64-byte key vs signature computation over full text). Group sizes
    ride along so downstream can audit collapse rates. Same
    deterministic min-id survivor rule as dedup_exact.

    Plan: a SINGLE hash aggregate — min_by(lang, doc_id) recovers the
    survivor's lang inside the same groupBy that picks min(doc_id), so
    there is no groups-side self-join at all. The previous
    groupBy+join form computed the regex normalization TWICE (exchange
    reuse does not cross broadcast boundaries) and carried a
    broadcast-or-SMJ decision on the groups side that degrades as the
    group table outgrows the broadcast threshold; the r12 isolated
    scale probe measured it 12.8x at 10x data. This form is one
    shuffle with map-side partial min/min_by/count (constant reduce
    state per key) at any scale. min_by ties are impossible: doc_id is
    unique.

    NULL semantics: a NULL text yields a NULL pfx, which the oracle's
    ``JOIN ... ON n.pfx = g.pfx`` silently drops (SQL equality never
    matches NULL); groupBy would instead emit a survivor row for the
    NULL group, so NULL-pfx rows are filtered before aggregating to
    keep both engines identical under any future fixture (ADVICE r12)."""
    docs = load_table(spark, sf_dir, "documents")
    pfx = F.substring(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
                " +",
                " ",
            )
        ),
        1,
        64,
    )
    n = docs.select("doc_id", "lang", pfx.alias("pfx")).where(
        F.col("pfx").isNotNull()
    )
    return n.groupBy("pfx").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.count(F.lit(1)).alias("n_dupes"),
    ).select("doc_id", "lang", "n_dupes")


@register(
    "sample_mixture",
    oracle="""
    WITH quota AS (
      SELECT lang, CAST(ceil(CASE lang
                   WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.15 WHEN 'fr' THEN 0.15
                   WHEN 'es' THEN 0.1 WHEN 'zh' THEN 0.1 ELSE 0 END * 200)
               AS BIGINT) AS quota
      FROM (SELECT DISTINCT lang FROM documents)),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents)
    SELECT r.doc_id, r.lang, CAST(r.rk AS BIGINT) AS rk
    FROM ranked r JOIN quota q ON r.lang = q.lang
    WHERE r.rk <= q.quota
    """,
)
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling: rebalance the corpus to target language
    proportions (en 50%, de/fr 15%, es/zh 10% of a 200-doc budget) by
    taking each language's quota in deterministic md5 order — the
    data-mixing pass that turns a raw crawl into a training mixture.
    Quotas are a broadcast |langs|-row table; ranking is one window
    shuffle partitioned by lang (salt the dominant language's window at
    100 TB, or pre-filter with sample_hash_consistent to cut the sort)."""
    docs = load_table(spark, sf_dir, "documents")
    weights = {"en": 0.5, "de": 0.15, "fr": 0.15, "es": 0.1, "zh": 0.1}
    quota_expr = F.ceil(
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in weights.items() for x in kv]
            ),
            F.col("lang"),
        )
        * 200
    ).cast("bigint")
    quota = (
        docs.select("lang").distinct().select("lang", quota_expr.alias("quota"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(w).cast("bigint").alias("rk")
    )
    return (
        ranked.join(F.broadcast(quota), "lang")
        .filter(F.col("rk") <= F.col("quota"))
        .select("doc_id", "lang", "rk")
    )


@register(
    "pipeline_curate_pack",
    oracle="""
    WITH quality AS (
      SELECT doc_id, lang, text FROM documents WHERE n_chars >= 100),
    keyed AS (
      SELECT doc_id, lang, text,
             substr(trim(regexp_replace(
                 regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                 ' +', ' ', 'g')), 1, 64) AS pfx
      FROM quality),
    survivors AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY pfx ORDER BY doc_id) AS rn
        FROM keyed) WHERE rn = 1),
    toks AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM survivors),
    pref AS (
      SELECT doc_id, lang, n_tokens,
             coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prefix_tokens
      FROM toks)
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(prefix_tokens // 512 AS BIGINT) AS bin_id
    FROM pref
    """,
)
def pipeline_curate_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline as ONE composed plan: quality gate
    (length floor, pushed to the parquet scan) → normalized-prefix dedup
    (min-id survivor per 64-char canonical prefix) → sequence packing
    into 512-token bins per lang shard. This is the artifact shape a
    training run consumes, and the composition is the point: each stage
    is a declarative transform, so Catalyst fuses the whole pipeline —
    the quality filter prunes before dedup's shuffle, dedup's survivor
    set flows straight into the packing window, and nothing materializes
    between stages. Three keyed shuffles total (prefix groupBy, two
    same-spec windows) at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    quality = docs.filter(F.col("n_chars") >= 100).select(
        "doc_id", "lang", "text"
    )
    pfx = F.substring(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
                " +",
                " ",
            )
        ),
        1,
        64,
    )
    keyed = quality.select("doc_id", "lang", "text", pfx.alias("pfx"))
    w_pfx = Window.partitionBy("pfx").orderBy("doc_id")
    survivors = (
        keyed.withColumn("rn", F.row_number().over(w_pfx))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "text")
    )
    toks = survivors.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w_pack = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = toks.withColumn(
        "prefix_tokens", F.coalesce(F.sum("n_tokens").over(w_pack), F.lit(0))
    )
    return pref.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(F.col("prefix_tokens") / 512).cast("long").alias("bin_id"),
    )


@register(
    "sample_reservoir",
    oracle="""
    SELECT lang, doc_id, CAST(rk AS INT) AS rk FROM (
      SELECT lang, doc_id,
             row_number() OVER (
                 PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents)
    WHERE rk <= 20
    """,
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-group sample (reservoir semantics):
    exactly k=20 docs per language, chosen by ranking on md5(doc_id) —
    equivalent in distribution to a uniform without-replacement draw,
    but reproducible across runs, engines, and partitionings (no RNG
    state). Complements sample_stratified (fixed RATE) with fixed SIZE.
    The rank is a single per-group sort; at 100 TB use the same hash as
    a pre-filter (hash < k/n quantile estimate) to avoid sorting the
    full group when k << group size."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "lang", "doc_id", F.row_number().over(w).cast("int").alias("rk")
        )
        .filter(F.col("rk") <= 20)
    )


@register(
    "cdc_apply_upserts",
    oracle="""
    WITH cdc AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'error' THEN 'delete'
                  ELSE 'upsert' END AS op,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_changes
      FROM events)
    SELECT user_id,
           round(value, 2) AS final_value,
           ts AS updated_at,
           n_changes
    FROM cdc WHERE rn = 1 AND op <> 'delete'
    """,
)
def cdc_apply_upserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: treat events as a change stream keyed by user_id
    ('error' = tombstone delete, anything else = upsert) and materialize
    the last-writer-wins snapshot — the merge step of an incremental
    mirror (reference cloud2sql rebuilds tables from scratch each run;
    this is the scalable alternative). One user-partitioned window ranks
    changes by (ts, event_id) descending; rn=1 keeps the latest change
    and a tombstone there erases the key. Exactly one shuffle, state per
    key is one row — the same plan compacts a 100 TB changelog, and it is
    the batch twin of stream_stateful_custom's running state."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wall = Window.partitionBy("user_id")
    op = F.when(F.col("event_type") == "error", "delete").otherwise("upsert")
    return (
        ev.select("user_id", "ts", "event_id", "value", op.alias("op"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_changes", F.count(F.lit(1)).over(wall))
        .filter((F.col("rn") == 1) & (F.col("op") != "delete"))
        .select(
            "user_id",
            F.round("value", 2).alias("final_value"),
            F.col("ts").alias("updated_at"),
            "n_changes",
        )
    )


# Poisson(1) inverse-CDF thresholds over the first 6 md5 hex digits:
# floor(CDF(k) * 16^6) rendered as 6-char hex. Same-length lowercase hex
# compares exactly like the underlying integer, so the CASE chain below is
# pure string comparison — no floats anywhere, bit-identical across engines.
_POISSON1_HEX = ("5e2d58", "bc5ab1", "eb715e", "fb2397")


@register(
    "sample_poisson_bootstrap",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
                       < '{_POISSON1_HEX[0]}' THEN 0
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
                       < '{_POISSON1_HEX[1]}' THEN 1
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
                       < '{_POISSON1_HEX[2]}' THEN 2
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
                       < '{_POISSON1_HEX[3]}' THEN 3
                  ELSE 4 END AS n_copies
      FROM documents)
    SELECT doc_id, lang, n_copies, CAST(t.copy AS INTEGER) AS copy
    FROM keyed, unnest(generate_series(1, n_copies)) AS t(copy)
    WHERE n_copies >= 1
    """,
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson(1) bootstrap resampling — the bagging primitive: each
    document is independently replicated k ~ Poisson(1) times (k=0 drops
    it), which at corpus scale is the online equivalent of sampling n
    rows with replacement without ever shuffling or counting the corpus.
    The RNG is md5(doc_id)'s first 6 hex digits compared against
    precomputed inverse-CDF thresholds (floor(CDF(k) * 16^6) as hex) —
    the CASE chain is exact string comparison, the tail is capped at
    k=4 (CDF 0.996), and replication is explode(sequence(1, k)): a
    narrow per-row fan-out, zero shuffles, embarrassingly parallel at
    any scale. Deterministic: the same doc_id draws the same k in every
    engine, partition layout, and rerun."""
    docs = load_table(spark, sf_dir, "documents")
    h6 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6)
    k = (
        F.when(h6 < _POISSON1_HEX[0], 0)
        .when(h6 < _POISSON1_HEX[1], 1)
        .when(h6 < _POISSON1_HEX[2], 2)
        .when(h6 < _POISSON1_HEX[3], 3)
        .otherwise(4)
    )
    keyed = docs.select("doc_id", "lang", k.alias("n_copies")).filter(
        F.col("n_copies") >= 1
    )
    return keyed.select(
        "doc_id",
        "lang",
        "n_copies",
        F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy"),
    )


@register(
    "sample_temperature",
    oracle=f"""
    WITH n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    t AS (SELECT sum(n_docs) AS total FROM n),
    w AS (SELECT lang, n_docs,
                 CAST(round(sqrt(CAST(n_docs AS DOUBLE)
                                 / (SELECT total FROM t)), 8)
                      AS DECIMAL(18,8)) AS w_dec
          FROM n),
    s AS (SELECT sum(w_dec) AS w_sum FROM w)
    SELECT lang, n_docs,
           {ratio_round_oracle(
               "w_dec * 100000000",
               "CAST((SELECT w_sum FROM s) * 100000000 AS HUGEINT)",
               6,
           )} AS sample_weight,
           CAST(floor(100000 * CAST(w_dec AS DOUBLE)
                      / CAST((SELECT w_sum FROM s) AS DOUBLE)) AS BIGINT)
               AS budget_docs
    FROM w
    """,
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixture (the multilingual-sampling
    alpha of public LM pipelines, alpha = 0.5): upweight tail languages
    by sampling proportionally to p^0.5 instead of p, and allocate a
    100k-doc budget accordingly.

    Cross-engine determinism: sqrt is exactly rounded under IEEE 754 (the
    one transcendental that is), so both engines compute identical
    doubles; the weights are then quantized to DECIMAL(18,8) so the
    normalizing sum is exact and order-independent. sample_weight =
    round(w/W, 6) rides the exact integer template
    (queries/rounding.py, converted r11): w and W are exact multiples
    of 1e-8, so w/W = (w*10^8)/(W*10^8) with integer operands.
    budget_docs keeps floor() — both engines floor the identical IEEE
    double, out of the half-boundary class. Plan: one tiny keyed
    aggregate (|langs| rows), a 1-row broadcast total, all map-side at
    any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    total = n.agg(F.sum("n_docs").alias("total"))
    w = n.join(F.broadcast(total)).select(
        "lang",
        "n_docs",
        F.round(
            F.sqrt(F.col("n_docs").cast("double") / F.col("total")), 8
        ).cast("decimal(18,8)").alias("w_dec"),
    )
    s = w.agg(F.sum("w_dec").alias("w_sum"))
    # budget mirrors the oracle's association exactly — (100000*w)/s, not
    # 100000*(w/s): the two round differently at the last ulp and floor()
    # would amplify that to an off-by-one budget.
    budget = (F.lit(100000) * F.col("w_dec").cast("double")) / F.col(
        "w_sum"
    ).cast("double")
    return w.join(F.broadcast(s)).select(
        "lang",
        "n_docs",
        F.expr(
            ratio_round_spark(
                "w_dec * 100000000",
                "CAST(w_sum * 100000000 AS DECIMAL(38,0))",
                6,
            )
        ).alias("sample_weight"),
        F.floor(budget).alias("budget_docs"),
    )


@register(
    "sample_dedup_weighted",
    oracle=f"""
    WITH fp AS (SELECT doc_id, lang,
                       md5(lower(trim(text))) AS fingerprint
                FROM documents),
    c AS (SELECT fingerprint, count(*) AS n_copies
          FROM fp GROUP BY fingerprint)
    SELECT f.doc_id, f.lang, f.fingerprint, c.n_copies,
           {ratio_round_oracle("1", "c.n_copies", 6)} AS train_weight
    FROM fp f JOIN c USING (fingerprint)
    """,
)
def sample_dedup_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of dropping exact duplicates, keep
    every copy but downweight it to 1/n_copies so each distinct text
    contributes unit mass to training (the documented alternative to hard
    dedup when provenance diversity matters).

    The copy count is a keyed aggregate on the md5 fingerprint; joining
    it back is fingerprint-keyed, so both shuffles share one key and AQE
    plans them as one exchange reuse. train_weight = round(1/n, 6)
    rides the exact integer template (queries/rounding.py, converted
    r11 — previously exempt because a half boundary needs n_copies in
    128*5^j and the fixture max is 2; the conversion removes the
    data-shape dependence entirely)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "lang",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
    )
    c = fp.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("n_copies"))
    return fp.join(c, "fingerprint").select(
        "doc_id",
        "lang",
        "fingerprint",
        "n_copies",
        F.expr(ratio_round_spark("1", "n_copies", 6)).alias("train_weight"),
    )


@register(
    "sample_interleave",
    oracle="""
    WITH r AS (SELECT doc_id, source,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                                  doc_id) AS rk
               FROM documents),
    s AS (SELECT source,
                 row_number() OVER (ORDER BY source) - 1 AS src_idx,
                 (SELECT count(DISTINCT source) FROM documents) AS n_src
          FROM (SELECT DISTINCT source FROM documents))
    SELECT r.doc_id, r.source, r.rk AS within_rank,
           (r.rk - 1) * s.n_src + s.src_idx + 1 AS train_pos
    FROM r JOIN s USING (source)
    """,
)
def sample_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source interleave: a global training order where
    consecutive positions round-robin across sources (pos = (rank-1) *
    n_sources + source_index) after an md5-shuffled within-source order —
    the batch-diversity guarantee streaming loaders want, computed as a
    position COLUMN instead of a materialized ordering.

    One window shuffle on source for the within-source rank; the source
    index table is |sources| rows broadcast. Position arithmetic is
    exact integers, and the md5 shuffle makes the order reproducible
    across engines, partitionings, and reruns. Sources of unequal size
    leave gaps at the tail of the position space — harmless for loader
    striding and far cheaper than the exact gapless interleave (a global
    merge) at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    wr = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    r = docs.select(
        "doc_id",
        "source",
        F.row_number().over(wr).cast("long").alias("within_rank"),
    )
    srcs = docs.select("source").distinct()
    ws = Window.orderBy("source")
    # n_src rides along as a broadcast column instead of a driver-side
    # count() — the plan stays fully lazy and the source table is tiny.
    s = srcs.select(
        "source", (F.row_number().over(ws) - 1).alias("src_idx")
    ).join(F.broadcast(srcs.agg(F.count(F.lit(1)).alias("n_src"))))
    return r.join(F.broadcast(s), "source").select(
        "doc_id",
        "source",
        "within_rank",
        (
            (F.col("within_rank") - 1) * F.col("n_src") + F.col("src_idx") + 1
        ).alias("train_pos"),
    )


@register(
    "sample_balanced",
    oracle="""
    WITH n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    k AS (SELECT min(n_docs) AS k FROM n),
    r AS (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents)
    SELECT r.doc_id, r.lang, CAST(r.rk AS BIGINT) AS rk
    FROM r, k
    WHERE r.rk <= k.k
    """,
)
def sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class balancing: downsample every language to the MINORITY class
    size (min per-lang count), the standard rebalance before training a
    classifier on skewed labels. Selection is the md5(doc_id) rank
    (deterministic uniform draw, same as sample_stratified/reservoir);
    the cutoff k is a 1-row broadcast scalar computed from the per-class
    counts, so the corpus shuffles once for the rank window and the
    class-size aggregate rides the same partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    k = n.agg(F.min("n_docs").alias("k"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    r = docs.select(
        "doc_id", "lang", F.row_number().over(w).cast("long").alias("rk")
    )
    return r.join(F.broadcast(k)).filter(F.col("rk") <= F.col("k")).select(
        "doc_id", "lang", "rk"
    )


@register(
    "sample_curriculum",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '), t -> t <> ''))
                 AS n_tokens,
             n_chars
      FROM documents),
    diff AS (
      SELECT doc_id, lang, n_tokens,
             CASE WHEN n_tokens > 0
                  THEN CAST((n_chars * 1000) // n_tokens AS BIGINT)
                  ELSE 0 END AS difficulty_milli
      FROM d)
    SELECT doc_id, lang, n_tokens, difficulty_milli,
           ntile(4) OVER (ORDER BY difficulty_milli, doc_id) AS stage
    FROM diff
    """,
)
def sample_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: assign every document to one of four training
    stages by a difficulty proxy (mean token length in milli-chars —
    longer average tokens correlate with harder text), easiest first.
    The proxy is exact integer arithmetic ((n_chars * 1000) div n_tokens,
    BIGINT floor division on both engines) and the stage cut is ntile(4)
    over the total order (difficulty, doc_id) — deterministic: ties
    cannot straddle a boundary differently across engines.

    Scale note: a global ntile needs a total order — ONE all-to-one sort
    of (difficulty, doc_id) pairs, the operator's only shuffle.
    SPARK_GRAFT_APPROX_NTILE=1 switches to the 100 TB path
    (cloud2sql_spark/ntile_scale.py): a distributed percentile_approx
    sketch yields the 3 stage boundaries, broadcast back for a map-side
    range assignment — no single-partition sort. Exact on
    distinct-boundary data (tests/test_ntile_scale.py); the exact form
    stays the oracle-checked default."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias(
            "n_tokens"
        ),
        "n_chars",
    )
    diff = d.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.when(
            F.col("n_tokens") > 0,
            F.expr("n_chars * 1000 div n_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("difficulty_milli"),
    )
    if approx_ntile_enabled():
        # persisted: diff feeds both the boundary aggregate (under the
        # broadcast exchange) and the scoring probe — without the cache
        # the documents scan + tokenization runs twice (exchange reuse
        # does not cross a broadcast boundary)
        diff = _track(diff.persist())
        b = diff.agg(
            *boundary_aggs({"bd": F.col("difficulty_milli")}, 4)
        )
        return diff.join(F.broadcast(b)).select(
            "doc_id",
            "lang",
            "n_tokens",
            "difficulty_milli",
            bucket_score(F.col("difficulty_milli"), F.col("bd")).alias(
                "stage"
            ),
        )
    w = Window.orderBy("difficulty_milli", "doc_id")
    return diff.withColumn("stage", F.ntile(4).over(w))


@register(
    "sample_epoch_shuffle",
    oracle="""
    WITH e AS (SELECT doc_id, unnest([1, 2, 3]) AS epoch FROM documents)
    SELECT doc_id, epoch,
           row_number() OVER (
             PARTITION BY epoch
             ORDER BY md5(CAST(epoch AS VARCHAR) || ':'
                          || CAST(doc_id AS VARCHAR)), doc_id)
               AS shuffle_rank
    FROM e
    """,
)
def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch deterministic data-order shuffling — multi-epoch training
    needs a DIFFERENT document order each epoch, reproducible across
    re-runs and engines (a seeded RNG is partitioning-dependent in a
    distributed engine; a keyed hash is not). The permutation key is
    md5(epoch:doc_id) — identical hex on both engines — so epoch 2's
    order is uncorrelated with epoch 1's yet fully replayable.

    Plan: the 3-epoch fan-out is a map-side array explode; each epoch's
    rank is a row_number over the epoch partition — one Exchange+Sort on
    (epoch, md5) total. At 100 TB the same key sorts WITHIN output
    shards (sortWithinPartitions after repartitioning on a hash of the
    key) instead of one global order per epoch — the standard
    shuffle-shard materialization; the per-epoch global rank here is the
    oracle-checkable exact form."""
    docs = load_table(spark, sf_dir, "documents")
    e = docs.select(
        "doc_id", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("epoch")
    )
    key = F.md5(
        F.concat(
            F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id").cast("string")
        )
    )
    w = Window.partitionBy("epoch").orderBy(key, "doc_id")
    return e.select(
        "doc_id", "epoch", F.row_number().over(w).alias("shuffle_rank")
    )


@register(
    "sample_contrastive_pairs",
    oracle=f"""
    WITH {_LSH_BUCKETS_SQL},
    lab AS (SELECT vec_id, label FROM embeddings),
    anch AS (SELECT * FROM buckets WHERE vec_id % 20 = 0),
    cand AS (
      SELECT DISTINCT anch.vec_id AS anchor_id, b.vec_id AS negative_id
      FROM anch JOIN buckets b
        ON anch.l = b.l AND anch.bucket = b.bucket
       AND b.vec_id <> anch.vec_id),
    typed AS (
      SELECT c.anchor_id, c.negative_id
      FROM cand c
      JOIN lab la ON la.vec_id = c.anchor_id
      JOIN lab lb ON lb.vec_id = c.negative_id
      WHERE la.label <> lb.label),
    scored AS (
      SELECT t.anchor_id, t.negative_id,
             CAST(list_dot_product(a.v, b.v) AS BIGINT) AS dot_units
      FROM typed t
      JOIN q a ON a.vec_id = t.anchor_id
      JOIN q b ON b.vec_id = t.negative_id),
    ranked AS (
      SELECT anchor_id, negative_id, dot_units,
             row_number() OVER (PARTITION BY anchor_id
                 ORDER BY dot_units DESC, negative_id) AS rank
      FROM scored)
    SELECT anchor_id, negative_id, dot_units, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def sample_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (every 20th vector), the top-3 vectors that the LSH tables consider
    SIMILAR (shared hyperplane bucket in any of the 4 tables — the
    shared _lsh_bucket_frame machinery) yet carry a DIFFERENT label —
    exactly the near-miss negatives a contrastive loss learns most
    from. Scoring is the exact integer milli-unit dot product; the
    candidate set comes from bucket-equality joins, never an all-pairs
    sweep — the same 100 TB posture as the dedup/ANN family. Label
    lookups stay keyed joins (label table scales with the corpus)."""
    buckets = _lsh_bucket_frame(spark, sf_dir)
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    anch = buckets.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("anchor_id"), "l", "bucket"
    )
    cand = (
        anch.join(
            buckets.select(F.col("vec_id").alias("negative_id"), "l", "bucket"),
            ["l", "bucket"],
        )
        .filter(F.col("negative_id") != F.col("anchor_id"))
        .select("anchor_id", "negative_id")
        .distinct()
    )
    la = lab.select(F.col("vec_id").alias("anchor_id"), F.col("label").alias("la"))
    lb = lab.select(
        F.col("vec_id").alias("negative_id"), F.col("label").alias("lb")
    )
    typed = (
        cand.join(la, "anchor_id")
        .join(lb, "negative_id")
        .filter(F.col("la") != F.col("lb"))
        .select("anchor_id", "negative_id")
    )
    q = _quantized(spark, sf_dir)
    qa = q.select(F.col("vec_id").alias("anchor_id"), F.col("v").alias("va"))
    qb = q.select(F.col("vec_id").alias("negative_id"), F.col("v").alias("vb"))
    scored = (
        typed.join(qa, "anchor_id")
        .join(qb, "negative_id")
        .select(
            "anchor_id",
            "negative_id",
            _int_dot("va", "vb").cast("bigint").alias("dot_units"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("dot_units").desc(), "negative_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("anchor_id", "negative_id", "dot_units", "rank")
    )


@register(
    "sample_importance_reweight",
    oracle=f"""
    WITH e AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
      GROUP BY lang),
    t AS (
      SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS k
      FROM e),
    w AS (
      SELECT e.lang, e.n, t.total, t.k,
             CAST((2 * CAST(t.total AS HUGEINT) * t.total * 1000000000
                   + CAST(t.k AS HUGEINT) * t.k * e.n)
                  // (2 * CAST(t.k AS HUGEINT) * t.k * e.n)
                  AS DECIMAL(38,0)) AS q
      FROM e CROSS JOIN t),
    w2 AS (
      SELECT w.*, CAST(sum(q) OVER () AS HUGEINT) AS sum_q FROM w)
    SELECT lang, n,
           {ratio_round_oracle("n", "total", 6)} AS emp_p,
           {ratio_round_oracle("total", "k * n", 6)} AS weight,
           {ratio_round_oracle("q", "1000000000", 6)} AS sum_w2_term,
           {ratio_round_oracle(
               "CAST(total AS HUGEINT) * total * 1000000000", "sum_q", 6
           )} AS effective_sample_size
    FROM w2
    """,
)
def sample_importance_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance re-weighting toward a uniform language mixture — each
    document's weight is target_p / empirical_p (= total/(k·n_lang)),
    the estimator-preserving alternative to up/down-sampling when a
    training run wants a different mixture than the corpus has. Since
    the weight is constant within a language, everything reduces to the
    per-language count frame: one map-side-combined aggregate, a
    broadcast scalar (total, k), and the Kish effective sample size
    (Σw)²/Σw² — which, with Σ n·w = total exactly under the uniform
    target, is total²/Σ n·w² — computed via one unpartitioned window
    over |langs| rows. All divisions mirror the oracle's association;
    inputs are exact integers. At 100 TB the weight column joins back
    to documents as a broadcast of |langs| rows — no fact-side shuffle
    at all."""
    docs = load_table(spark, sf_dir, "documents")
    e = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = e.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    w = e.join(F.broadcast(t)).select("lang", "n", "total", "k")
    # Σ n·w² is quantized to integer nano-units BEFORE the window sum
    # (the Theil-index trick): a raw float sum over the window is
    # accumulation-order dependent across engines, and the ESS division
    # would amplify a last-ulp difference across a 6-decimal round. The
    # quantization itself is EXACT integer arithmetic (converted round
    # 12, retiring the last probabilistic round() exemption): with
    # w = total/(k·n) exactly, n·w²·1e9 = total²·1e9/(k²·n), and
    # q = round(·) half-away = floor((2·num + den)/(2·den)) with
    # num = total²·1e9, den = k²·n — no float in the path. q scales as
    # total²·1e9/(k²·n), which tops int64 for a minority category in a
    # billions-of-docs corpus, so it rides DECIMAL(38,0)/HUGEINT
    # throughout; Spark's `div` returns a LONG (it would clamp that
    # headroom), so the floor-division is the exact remainder-subtract
    # form: (numx - numx % den2) / den2 — the subtraction makes the
    # decimal division exact, immune to its scale-6 rounding.
    w = (
        w.withColumn(
            "_qnumx",
            F.expr(
                "2 * CAST(total AS DECIMAL(38,0)) * total * 1000000000"
                " + CAST(k AS DECIMAL(38,0)) * k * n"
            ),
        )
        .withColumn("_qden2", F.expr("2 * CAST(k AS DECIMAL(38,0)) * k * n"))
        .withColumn(
            "q",
            F.expr(
                "CAST((_qnumx - _qnumx % _qden2) / _qden2 AS DECIMAL(38,0))"
            ),
        )
        .withColumn(
            "sum_q",
            F.sum("q").over(Window.partitionBy()).cast("decimal(38,0)"),
        )
    )
    # The four output rounds ride exact integer arithmetic
    # (queries/rounding.py): every one is an exact rational — n/total,
    # total/(k·n), q/1e9, total²·1e9/Σq — and `weight`'s denominator
    # k·n sits on a half boundary whenever a language count lands on
    # 2^10·5^b (n ≈ 1024 IS in the fixture's per-language range), the
    # cross-engine round() coin-flip.
    return w.select(
        "lang",
        "n",
        F.expr(ratio_round_spark("n", "total", 6)).alias("emp_p"),
        F.expr(ratio_round_spark("total", "k * n", 6)).alias("weight"),
        F.expr(ratio_round_spark("q", "1000000000", 6)).alias(
            "sum_w2_term"
        ),
        F.expr(
            ratio_round_spark(
                "CAST(total AS DECIMAL(38,0)) * total * 1000000000",
                "sum_q",
                6,
            )
        ).alias("effective_sample_size"),
    )
