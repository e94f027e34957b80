"""Scalar function surface — string/date/math/array/map/json (SURVEY.md
§2.8) plus the training-data text-analysis ops (language-ID heuristic,
quality scoring, token counting, fingerprinting) over the documents table.

Everything here is pure built-in pyspark.sql.functions (JVM-side,
whole-stage-codegen) — no UDFs. str_normalize is linking.norm_name (the
pipeline's alias normalization), and domain_stats runs
streaming.domain_running_stats (the stream's per-domain accounting) over
the batch documents.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from glre_spark.linking import norm_name, shingle_set
from glre_spark.operators import fround, load, op
from glre_spark.session import fan_out


# linking.norm_name's twin, step for step: lower → runs of non-letter,
# non-digit chars to one space → collapse whitespace → trim.
NORM_SQL = (
    r"trim(regexp_replace(regexp_replace(lower({c}), '[^\p{{L}}\p{{N}}]+', ' ', 'g'),"
    r" '\s+', ' ', 'g'))"
)


@op("str_normalize", f"SELECT doc_id, {NORM_SQL.format(c='text')} AS norm_text FROM documents")
def str_normalize(spark, sf_dir):
    """linking.norm_name over the documents' text."""
    return load(spark, sf_dir, "documents").select(
        "doc_id", norm_name(F.col("text")).alias("norm_text")
    )


@op(
    "str_split_tokens",
    """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              string_split(text, ' ')[1] AS first_token
       FROM documents""",
)
def str_split_tokens(spark, sf_dir):
    toks = F.split(F.col("text"), " ")
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        toks.getItem(0).alias("first_token"),
    )


@op(
    "str_shingle",
    """SELECT DISTINCT p_partkey, substr(p_name, CAST(i AS INTEGER), 3) AS shingle
       FROM (SELECT p_partkey, p_name,
                    UNNEST(range(1, greatest(length(p_name) - 1, 2))) AS i
             FROM part)""",
)
def str_shingle(spark, sf_dir):
    """Character 3-shingles via higher-order functions — the MinHash
    front-end (SURVEY.md §2.8/§2.12)."""
    return (
        load(spark, sf_dir, "part")
        .select("p_partkey", F.explode(shingle_set(F.col("p_name"))).alias("shingle"))
        .distinct()
    )


@op(
    "str_concat_fmt",
    """SELECT c_custkey,
              concat_ws('|', c_name, c_mktsegment) AS joined,
              printf('%s#%05d', c_mktsegment, c_custkey) AS formatted
       FROM customer""",
)
def str_concat_fmt(spark, sf_dir):
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
        F.format_string("%s#%05d", F.col("c_mktsegment"), F.col("c_custkey")).alias(
            "formatted"
        ),
    )


@op(
    "hash_fns",
    """SELECT doc_id, md5(text) AS text_md5, sha256(text) AS text_sha256,
              substr(md5(concat(text, ':salt')), 1, 8) AS salted_prefix
       FROM documents""",
)
def hash_fns(spark, sf_dir):
    """Stable cross-engine hashes (md5/sha256). xxhash64 is Spark-internal
    (used for partitioning, §2.9) — correctness-checked hashes use md5."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
        F.substring(F.md5(F.concat(F.col("text"), F.lit(":salt"))), 1, 8).alias(
            "salted_prefix"
        ),
    )


@op(
    "date_fns",
    """SELECT event_id,
              date_trunc('day', ts) AS day_ts,
              CAST(date_part('hour', ts) AS BIGINT) AS hour_of_day,
              CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS days_since,
              CAST(floor(epoch(ts)) AS BIGINT) AS unix_sec
       FROM events""",
)
def date_fns(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_trunc("day", "ts").alias("day_ts"),
        F.hour("ts").cast("bigint").alias("hour_of_day"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since"),
        F.unix_timestamp("ts").cast("bigint").alias("unix_sec"),
    )


@op(
    "math_fns",
    """SELECT l_orderkey, l_linenumber,
              ROUND(abs(l_extendedprice - 1000) + 1e-9, 2) + 0 AS abs_diff,
              ROUND(ln(l_extendedprice + 1) + 1e-9, 6) + 0 AS log_price,
              ROUND(pow(l_discount, 2) + 1e-9, 6) + 0 AS disc_sq,
              ROUND(1 / (1 + exp(-l_tax * 10)) + 1e-9, 6) + 0 AS sigmoid_tax
       FROM lineitem""",
)
def math_fns(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        fround(F.abs(F.col("l_extendedprice") - 1000), 2).alias("abs_diff"),
        fround(F.log(F.col("l_extendedprice") + 1), 6).alias("log_price"),
        fround(F.pow("l_discount", 2), 6).alias("disc_sq"),
        fround(1 / (1 + F.exp(-F.col("l_tax") * 10)), 6).alias("sigmoid_tax"),
    )


@op(
    "arr_explode",
    """SELECT vec_id,
              CAST(UNNEST(range(1, len(embedding) + 1)) AS BIGINT) AS idx,
              ROUND(CAST(UNNEST(embedding) AS DOUBLE) + 1e-9, 4) + 0 AS val
       FROM embeddings""",
)
def arr_explode(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.posexplode("embedding").alias("pos", "v")).select(
        "vec_id",
        (F.col("pos") + 1).cast("bigint").alias("idx"),
        fround(F.col("v").cast("double"), 4).alias("val"),
    )


@op(
    "arr_fns",
    """SELECT vec_id,
              CAST(len(embedding) AS BIGINT) AS dim,
              ROUND(CAST(list_max(embedding) AS DOUBLE) + 1e-9, 4) + 0 AS max_v,
              ROUND(CAST(list_min(embedding) AS DOUBLE) + 1e-9, 4) + 0 AS min_v,
              CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
       FROM embeddings""",
)
def arr_fns(spark, sf_dir):
    e = F.col("embedding")
    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size(e).cast("bigint").alias("dim"),
        fround(F.array_max(e).cast("double"), 4).alias("max_v"),
        fround(F.array_min(e).cast("double"), 4).alias("min_v"),
        F.size(F.filter(e, lambda x: x > 0)).cast("bigint").alias("n_pos"),
    )


@op(
    "map_fns",
    """SELECT event_id,
              map_keys(MAP {'type': event_type})[1] AS only_key,
              element_at(MAP {'type': event_type}, 'type')[1] AS type_via_map
       FROM events""",
)
def map_fns(spark, sf_dir):
    m = F.create_map(F.lit("type"), F.col("event_type"))
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.map_keys(m).getItem(0).alias("only_key"),
        F.element_at(m, F.lit("type")).alias("type_via_map"),
    )


@op(
    "json_fns",
    """SELECT event_id,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
       FROM events""",
)
def json_fns(spark, sf_dir):
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )


# ---------------------------------------------------------------------------
# Training-data text analysis (documents table)
# ---------------------------------------------------------------------------

# ONE Python source of truth for the stopword set, and one stopword
# count, stopword ratio (over the text's space-split tokens) and quality
# formula (half length credit up to 500 chars, half stopword ratio), each
# as a Spark expression and its DuckDB twin fragment.
STOPWORD_LIST = ("the", "a", "of", "and", "to", "in", "is")
_STOPWORDS = "(" + ", ".join(f"'{w}'" for w in STOPWORD_LIST) + ")"
_STOP_COUNT_SQL = "len(list_filter({toks}, t -> t IN " + _STOPWORDS + "))"
_WS_TOKS_SQL = "string_split(text, ' ')"
_STOP_RATIO_SQL = (
    f"CAST({_STOP_COUNT_SQL.format(toks=_WS_TOKS_SQL)} AS DOUBLE) / len({_WS_TOKS_SQL})"
)
_QUALITY_SQL = f"LEAST(length(text) / 500.0, 1.0) * 0.5 + {_STOP_RATIO_SQL} * 0.5"


def _stop_count(toks):
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORD_LIST)))


def _stop_ratio():
    toks = F.split(F.col("text"), " ")
    return _stop_count(toks).cast("double") / F.size(toks)


def _quality():
    return F.least(F.length("text") / 500.0, F.lit(1.0)) * 0.5 + _stop_ratio() * 0.5


@op(
    "text_token_count",
    """SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
              CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS bpe_ish_tokens
       FROM documents""",
)
def text_token_count(spark, sf_dir):
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+")).cast("bigint").alias(
            "bpe_ish_tokens"
        ),
    )


@op(
    "text_quality_score",
    f"""SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_actual,
               ROUND({_STOP_RATIO_SQL} + 1e-9, 4) + 0 AS stopword_ratio,
               ROUND({_QUALITY_SQL} + 1e-9, 4) + 0 AS quality
        FROM documents""",
)
def text_quality_score(spark, sf_dir):
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_actual"),
        fround(_stop_ratio(), 4).alias("stopword_ratio"),
        fround(_quality(), 4).alias("quality"),
    )


@op(
    "text_langid",
    f"""SELECT doc_id, lang AS lang_declared,
               CASE WHEN {_STOP_RATIO_SQL} > 0.02 THEN 'en' ELSE 'other' END AS lang_pred
        FROM documents""",
)
def text_langid(spark, sf_dir):
    """Stopword-density language-ID heuristic (the real corpus carries a
    lang column; this is the detector for when it doesn't)."""
    pred = F.when(_stop_ratio() > 0.02, "en").otherwise("other")
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("lang_declared"), pred.alias("lang_pred")
    )


@op(
    "text_fingerprint",
    """SELECT doc_id,
              md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                  AS fingerprint
       FROM documents""",
)
def text_fingerprint(spark, sf_dir):
    """Order-insensitive document fingerprint (sorted-distinct-token md5) —
    the canonical-form near-dup key."""
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.col("text"), " "))))
    )
    return fan_out(load(spark, sf_dir, "documents").select("doc_id", "text")).select(
        "doc_id", fp.alias("fingerprint")
    )


# --- r5: PII scrubbing + benchmark decontamination (training-pipeline ops)

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"


@op(
    "text_pii_redact",
    # Both engines inject the same deterministic PII (derived from doc_id
    # — the corpus itself is PII-free) and then redact it with IDENTICAL
    # regexes (plain char classes: same semantics in Java regex and RE2).
    # DuckDB's regexp_replace needs the 'g' flag to match Spark's
    # replace-all default. md5 of the redacted text is the value check.
    f"""SELECT doc_id,
              CAST(len(regexp_extract_all(s, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
              CAST(len(regexp_extract_all(s, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
              CAST(length(regexp_replace(regexp_replace(s, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                         '{_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT)
                  AS redacted_len,
              md5(regexp_replace(regexp_replace(s, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                 '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
       FROM (SELECT doc_id,
                    text || ' Contact: user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or +1-555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.'
                        AS s
             FROM documents)""",
)
def text_pii_redact(spark, sf_dir):
    """PII scrubbing (emails, phone numbers) via regexp_replace — the
    redaction pass every training-data pipeline runs before publishing.
    The synthetic corpus carries no PII, so both engines first inject a
    deterministic doc_id-derived email + phone, then count and redact;
    the md5 of the redacted text pins byte-exact agreement."""
    s = F.concat(
        F.col("text"),
        F.lit(" Contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad(F.pmod("doc_id", F.lit(10000)).cast("string"), 4, "0"),
        F.lit("."),
    )
    red = F.regexp_replace(
        F.regexp_replace(s, F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(_PHONE_RE),
        F.lit("<PHONE>"),
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_count(s, F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(s, F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.length(red).cast("bigint").alias("redacted_len"),
        F.md5(red).alias("redacted_md5"),
    )


@op(
    "decontaminate_ngrams",
    # Word-8-gram overlap against a benchmark set (doc_id < 20): the eval
    # decontamination pass. Identical n-gram windowing on both engines:
    # i ∈ [1, max(len-7, 1)], 8-word slices truncated at the tail.
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
ng AS (
  SELECT doc_id, UNNEST(list_distinct(list_transform(
           range(1, greatest(len(w) - 6, 2)),
           i -> array_to_string(w[i:i+7], ' ')))) AS g
  FROM w
),
bench AS (SELECT DISTINCT g FROM ng WHERE doc_id < 20),
ov AS (
  SELECT ng.doc_id, COUNT(*) AS n
  FROM ng JOIN bench USING (g)
  GROUP BY ng.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_overlap,
       COALESCE(ov.n, 0) >= 3 AS contaminated
FROM documents d LEFT JOIN ov ON ov.doc_id = d.doc_id""",
)
def decontaminate_ngrams(spark, sf_dir):
    """Benchmark decontamination: count each document's distinct word-
    8-gram overlaps with a benchmark set (here: docs 0-19 as the stand-in
    eval suite) and flag docs above threshold. The benchmark n-gram set
    is tiny → broadcast hash join against the exploded n-gram stream (no
    shuffle of the stream; the per-doc count aggregates on a fixed-width
    key), which is the shape a 100 TB decontamination pass needs."""
    docs = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    ngrams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - 7, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(w, i, 8)),
        )
    )
    ng = docs.select("doc_id", F.explode(ngrams).alias("g"))
    bench = ng.filter(F.col("doc_id") < 20).select("g").distinct()
    ov = (
        ng.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    return docs.select("doc_id").join(ov, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_overlap"),
        (F.coalesce(F.col("n"), F.lit(0)) >= 3).alias("contaminated"),
    )


# --- r6: repetition filtering + URL canonicalization (training-pipeline ops)


def _max_run(sorted_arr):
    """Longest run of equal adjacent elements in a SORTED array — i.e. the
    max per-element frequency — computed per-row with F.aggregate (zero
    shuffle, whole-stage codegen). The struct accumulator carries
    (prev element, current run, best run)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
    )

    def merge(acc, x):
        run = F.when(
            x.eqNullSafe(acc.getField("prev")), acc.getField("run") + 1
        ).otherwise(F.lit(1).cast("bigint"))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.getField("best"), run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, merge, lambda acc: acc.getField("best"))


@op(
    "text_repetition_score",
    # Gopher-style repetition stats. The Spark side computes the top
    # unigram/bigram frequency per row with a sorted-array run-length
    # scan (no shuffle at all); the oracle takes the classic
    # unnest→GROUP BY→MAX road — different decompositions, identical
    # numbers. Bigrams: i ∈ [1, len-1]; a one-token doc has none (frac 0).
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
uni AS (
  SELECT doc_id, MAX(c) AS topc
  FROM (SELECT doc_id, t, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(w) AS t FROM w)
        GROUP BY doc_id, t)
  GROUP BY doc_id
),
big AS (
  SELECT doc_id, MAX(c) AS topc
  FROM (SELECT doc_id, g, COUNT(*) AS c
        FROM (SELECT doc_id,
                     UNNEST(list_transform(range(1, len(w)),
                                           i -> w[i] || ' ' || w[i + 1])) AS g
              FROM w)
        GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(len(w.w) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(w.w)) AS BIGINT) AS n_distinct,
       ROUND(CAST(uni.topc AS DOUBLE) / len(w.w) + 1e-9, 4) + 0 AS top_token_frac,
       ROUND(1.0 - CAST(len(list_distinct(w.w)) AS DOUBLE) / len(w.w) + 1e-9, 4) + 0
           AS dup_token_frac,
       ROUND(CASE WHEN len(w.w) >= 2
                  THEN CAST(big.topc AS DOUBLE) / (len(w.w) - 1) ELSE 0.0 END
             + 1e-9, 4) + 0 AS top_bigram_frac,
       (CAST(uni.topc AS DOUBLE) / len(w.w) > 0.2
        OR 1.0 - CAST(len(list_distinct(w.w)) AS DOUBLE) / len(w.w) > 0.9)
           AS repetitive
FROM w
JOIN uni USING (doc_id)
LEFT JOIN big USING (doc_id)""",
)
def text_repetition_score(spark, sf_dir):
    """Repetition-based quality filter (the Gopher-rules family): per-doc
    top-unigram share, duplicate-token fraction, top-bigram share, and a
    repetitive flag. Implemented as a pure per-row array scan —
    array_sort + an F.aggregate run-length pass — so at 100 TB it is an
    embarrassingly-parallel map over the corpus with NO explode/shuffle
    of the token stream (the unnest→groupBy alternative shuffles ~200×
    the corpus row count; the oracle twin takes that road to keep the
    check independent)."""
    docs = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    d = docs.select("doc_id", w.alias("w"))
    n = F.size("w")
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at("w", i), F.element_at("w", i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top_uni = _max_run(F.array_sort("w"))
    top_big = _max_run(F.array_sort(bigrams))
    uni_frac = top_uni.cast("double") / n
    dup_frac = F.lit(1.0) - F.size(F.array_distinct("w")).cast("double") / n
    big_frac = F.when(n >= 2, top_big.cast("double") / (n - 1)).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("w")).cast("bigint").alias("n_distinct"),
        fround(uni_frac, 4).alias("top_token_frac"),
        fround(dup_frac, 4).alias("dup_token_frac"),
        fround(big_frac, 4).alias("top_bigram_frac"),
        ((uni_frac > 0.2) | (dup_frac > 0.9)).alias("repetitive"),
    )


# Deterministic synthetic URL per doc (the documents table carries no url
# column): four crawl-style variants that differ only by scheme case,
# www., trailing slash, or tracking params. The variant is keyed on
# (doc_id // 100) % 4 while (site, page) are keyed mod 50 / mod 100 — so
# docs 0, 100, 200 carry three DIFFERENT raw urls of the same page that
# must collapse to one canonical url, while doc 300 (variant 3) keeps its
# significant ?id= param. Both engines build the identical string.
_URL_SQL = """CASE (doc_id // 100) % 4
  WHEN 0 THEN 'https://Site' || CAST(doc_id % 50 AS VARCHAR)
              || '.Example.org/page/' || CAST(doc_id % 100 AS VARCHAR)
  WHEN 1 THEN 'http://www.site' || CAST(doc_id % 50 AS VARCHAR)
              || '.example.org/page/' || CAST(doc_id % 100 AS VARCHAR) || '/'
  WHEN 2 THEN 'HTTPS://WWW.Site' || CAST(doc_id % 50 AS VARCHAR)
              || '.Example.ORG/page/' || CAST(doc_id % 100 AS VARCHAR)
              || '?utm_source=feed&utm_campaign=x'
  ELSE 'https://site' || CAST(doc_id % 50 AS VARCHAR)
       || '.example.org/page/' || CAST(doc_id % 100 AS VARCHAR)
       || '?utm_medium=mail&id=' || CAST(doc_id % 7 AS VARCHAR)
END"""


def _url_col():
    m50 = F.pmod("doc_id", F.lit(50)).cast("string")
    m100 = F.pmod("doc_id", F.lit(100)).cast("string")
    m7 = F.pmod("doc_id", F.lit(7)).cast("string")
    variant = F.pmod(F.expr("doc_id div 100"), F.lit(4))
    return (
        F.when(
            variant == 0,
            F.concat(F.lit("https://Site"), m50, F.lit(".Example.org/page/"), m100),
        )
        .when(
            variant == 1,
            F.concat(
                F.lit("http://www.site"), m50, F.lit(".example.org/page/"), m100, F.lit("/")
            ),
        )
        .when(
            variant == 2,
            F.concat(
                F.lit("HTTPS://WWW.Site"),
                m50,
                F.lit(".Example.ORG/page/"),
                m100,
                F.lit("?utm_source=feed&utm_campaign=x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://site"),
                m50,
                F.lit(".example.org/page/"),
                m100,
                F.lit("?utm_medium=mail&id="),
                m7,
            )
        )
    )


@op(
    "url_normalize_dedup",
    # Canonicalization: strip scheme, lowercase host, drop leading www.,
    # drop a trailing slash, drop utm_*/fbclid tracking params (keeping
    # significant params in order). Keeper = min doc_id per canonical
    # url, via a window over the canonical key.
    f"""WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
p AS (
  SELECT doc_id, url,
         regexp_replace(url, '^[A-Za-z]+://', '') AS bare
  FROM u
),
q AS (
  SELECT doc_id, url,
         regexp_replace(lower(regexp_extract(bare, '^[^/?]+')), '^www\\.', '')
             AS host,
         regexp_replace(regexp_extract(substr(bare, len(regexp_extract(bare, '^[^/?]+')) + 1),
                                       '^[^?]*'),
                        '/$', '') AS path,
         COALESCE(array_to_string(list_filter(string_split(
             regexp_extract(substr(bare, len(regexp_extract(bare, '^[^/?]+')) + 1),
                            '\\?(.*)$', 1), '&'),
             kv -> NOT regexp_matches(kv, '^(utm_[a-z]+|fbclid)=')), '&'), '')
             AS keep_q
  FROM p
)
SELECT doc_id, url,
       host || path || CASE WHEN keep_q = '' THEN '' ELSE '?' || keep_q END
           AS canon_url,
       doc_id = MIN(doc_id) OVER (PARTITION BY
           host || path || CASE WHEN keep_q = '' THEN '' ELSE '?' || keep_q END)
           AS is_keeper
FROM q""",
)
def url_normalize_dedup(spark, sf_dir):
    """URL canonicalization + crawl dedup — the first pass of any
    Common-Crawl-style pipeline: normalize scheme/host-case/www./trailing
    slash and strip tracking params, then keep the lowest doc_id per
    canonical url. One shuffle total, on the canonical-url key (near-
    unique, no skew); everything else is per-row regex in codegen. The
    documents table has no url column, so both engines derive the same
    deterministic crawl-style variants from doc_id (see _URL_SQL)."""
    docs = load(spark, sf_dir, "documents")
    bare = F.regexp_replace(_url_col(), "^[A-Za-z]+://", "")
    host_raw = F.regexp_extract(bare, "^[^/?]+", 0)
    rest = F.expr("substr(bare, length(host_raw) + 1)")
    d = docs.select(
        "doc_id",
        _url_col().alias("url"),
        bare.alias("bare"),
        host_raw.alias("host_raw"),
    ).select(
        "doc_id",
        "url",
        F.regexp_replace(F.lower("host_raw"), r"^www\.", "").alias("host"),
        F.regexp_replace(F.regexp_extract(rest, "^[^?]*", 0), "/$", "").alias("path"),
        F.array_join(
            F.filter(
                F.split(F.regexp_extract(rest, r"\?(.*)$", 1), "&"),
                lambda kv: ~kv.rlike("^(utm_[a-z]+|fbclid)="),
            ),
            "&",
        ).alias("keep_q"),
    )
    canon = F.concat(
        F.col("host"),
        F.col("path"),
        F.when(F.col("keep_q") == "", "").otherwise(F.concat(F.lit("?"), F.col("keep_q"))),
    )
    win = Window.partitionBy("canon_url")
    return (
        d.select("doc_id", "url", canon.alias("canon_url"))
        .select(
            "doc_id",
            "url",
            "canon_url",
            (F.col("doc_id") == F.min("doc_id").over(win)).alias("is_keeper"),
        )
    )


# --- r6: CCNet-style cross-document boilerplate removal

_FOOTER = "copyright footer all rights reserved contact admin example"  # 8 tokens
_BP_K = 10  # a chunk in >= K distinct docs is boilerplate


@op(
    "text_boilerplate_strip",
    # Cross-document boilerplate removal (the CCNet paragraph-dedup
    # family): segment each doc into fixed 8-token chunks, find chunks
    # shared by >= K distinct docs, strip them, and republish the doc.
    # The corpus has no natural boilerplate, so both engines first
    # PREPEND a deterministic 8-token footer to every third doc — chunk
    # 0 exactly — which the op must then remove (tail chunks shorter
    # than 8 tokens can also legitimately cross the K threshold).
    f"""WITH s AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN '{_FOOTER} ' || text ELSE text END AS s
  FROM documents
),
w AS (SELECT doc_id, string_split(s, ' ') AS w FROM s),
pos AS (
  SELECT doc_id, UNNEST(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS pos
  FROM w
),
ch AS (
  SELECT p.doc_id, p.pos,
         array_to_string(w.w[8 * p.pos + 1 : 8 * p.pos + 8], ' ') AS chunk
  FROM pos p JOIN w USING (doc_id)
),
hot AS (
  SELECT chunk FROM ch GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= {_BP_K}
),
kept AS (
  SELECT ch.doc_id,
         COALESCE(string_agg(ch.chunk, ' ' ORDER BY ch.pos)
                  FILTER (WHERE hot.chunk IS NULL), '') AS clean,
         CAST(COUNT(*) FILTER (WHERE hot.chunk IS NOT NULL) AS BIGINT) AS n_dropped,
         CAST(COUNT(*) AS BIGINT) AS n_chunks
  FROM ch LEFT JOIN hot USING (chunk)
  GROUP BY ch.doc_id
)
SELECT doc_id, n_chunks, n_dropped,
       CAST(length(clean) AS BIGINT) AS clean_len,
       md5(clean) AS clean_md5
FROM kept""",
)
def text_boilerplate_strip(spark, sf_dir):
    """Cross-document boilerplate removal: chunks appearing in >= K
    distinct docs are stripped and the doc re-emitted. 100-TB shape: the
    corpus-wide stream is (doc_id, pos, xxhash64(chunk)) — FIXED-WIDTH
    rows, never the chunk text; the hot set (boilerplate is rare by
    definition) broadcasts back; only (doc_id, pos) pairs shuffle to the
    per-doc regroup, and the doc text itself is rebuilt per-row with an
    index-filter over the original chunk array (F.filter's two-arg
    lambda = (element, index))."""
    docs = load(spark, sf_dir, "documents")
    s = F.when(
        F.pmod("doc_id", F.lit(3)) == 0, F.concat(F.lit(_FOOTER + " "), F.col("text"))
    ).otherwise(F.col("text"))
    w = F.split(s, " ")
    n_chunks = F.ceil(F.size("w") / F.lit(8.0)).cast("bigint")
    chunks = F.transform(
        F.sequence(F.lit(0), F.col("n_chunks").cast("int") - 1),
        lambda i: F.concat_ws(" ", F.slice("w", i * 8 + 1, 8)),
    )
    base = docs.select(
        "doc_id", w.alias("w")
    ).withColumn("n_chunks", n_chunks).withColumn("chunks", chunks)
    ex = base.select(
        "doc_id", F.posexplode("chunks").alias("pos", "chunk")
    ).select("doc_id", "pos", F.xxhash64("chunk").alias("h"))
    hot = (
        ex.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _BP_K)
        .select("h")
    )
    dropped = (
        ex.join(F.broadcast(hot), "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("drop_pos"))
    )
    joined = base.join(dropped, "doc_id", "left").withColumn(
        "drop_pos", F.coalesce("drop_pos", F.array().cast("array<int>"))
    )
    clean = F.concat_ws(
        " ",
        F.filter("chunks", lambda c, i: ~F.array_contains("drop_pos", i)),
    )
    return joined.select(
        "doc_id",
        F.col("n_chunks"),
        F.size("drop_pos").cast("bigint").alias("n_dropped"),
        F.length(clean).cast("bigint").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


# --- r6: CCNet-style LM quality filter (corpus-unigram perplexity proxy)


@op(
    "text_unigram_logprob",
    # Per-doc mean unigram log-probability under the corpus's own unigram
    # model — the CCNet LM-quality-filter shape with the LM trained
    # in-pass. Float discipline: ln() is lifted to fixed-point PER TOKEN
    # TYPE (round(ln·1e6) → BIGINT, a per-row float op both engines agree
    # on), so every cross-row SUM is exact integer arithmetic — no
    # float-addition-order hazard. Buckets compare the identically
    # rounded mean, so the tier decision is engine-stable too.
    """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents),
cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
tot AS (SELECT SUM(c) AS n FROM cnt),
lp AS (
  SELECT t, CAST(ROUND(ln(CAST(c AS DOUBLE) / n) * 1e6) AS BIGINT) AS lp6
  FROM cnt, tot
),
doc AS (
  SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, SUM(lp.lp6) AS s
  FROM tok JOIN lp ON tok.t = lp.t
  GROUP BY tok.doc_id
)
SELECT doc_id, n_tokens,
       ROUND(s / 1e6 / n_tokens + 1e-9, 4) + 0 AS mean_logprob,
       CASE WHEN ROUND(s / 1e6 / n_tokens + 1e-9, 4) + 0 > -3.40 THEN 'head'
            WHEN ROUND(s / 1e6 / n_tokens + 1e-9, 4) + 0 > -3.41 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM doc""",
)
def text_unigram_logprob(spark, sf_dir):
    """CCNet-style LM quality score: mean per-token log-probability under
    a unigram LM trained on the corpus itself, bucketed head/middle/tail.
    100-TB shape: ONE token-count aggregation builds the LM (vocab-sized
    output — small), the scored pass broadcast-joins it back onto the
    exploded stream, and the per-doc reduce keys on doc_id (fixed
    width). The log-prob is fixed-point-lifted per token TYPE so all
    cross-row sums are exact integers (no float-order divergence across
    engines/partitions — the same cents-lift discipline as the money
    aggregates)."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    cnt = tok.groupBy("t").agg(F.count("*").alias("c"))
    total = cnt.agg(F.sum("c").alias("n"))
    lp = cnt.crossJoin(F.broadcast(total)).select(
        "t",
        F.round(F.log(F.col("c").cast("double") / F.col("n")) * 1e6, 0)
        .cast("bigint")
        .alias("lp6"),
    )
    doc = (
        tok.join(F.broadcast(lp), "t")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_tokens"), F.sum("lp6").alias("s"))
    )
    mean_lp = fround(F.col("s") / 1e6 / F.col("n_tokens"), 4)
    return doc.select(
        "doc_id",
        "n_tokens",
        mean_lp.alias("mean_logprob"),
        F.when(mean_lp > -3.40, "head")
        .when(mean_lp > -3.41, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


@op(
    "sample_stratified",
    # quality buckets by fixed thresholds on the text_quality_score
    # formula (identical double expression both engines → identical
    # bucket), then a per-bucket deterministic hash-threshold keep:
    # head 100%, mid 50%, tail 10%. w_x100 = inverse sampling rate ×100
    # (integer importance weight for downstream loss reweighting).
    f"""WITH q AS (SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents),
b AS (
  SELECT doc_id,
         CASE WHEN quality >= 0.55 THEN 'head'
              WHEN quality >= 0.40 THEN 'mid' ELSE 'tail' END AS bucket
  FROM q)
SELECT doc_id, bucket,
       CAST(CASE bucket WHEN 'head' THEN 100 WHEN 'mid' THEN 200
            ELSE 1000 END AS BIGINT) AS w_x100
FROM b
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 8))::UBIGINT % 100
      < CASE bucket WHEN 'head' THEN 100 WHEN 'mid' THEN 50 ELSE 10 END""",
)
def sample_stratified(spark, sf_dir):
    """Quality-stratified deterministic sampling (the DSIR/CCNet move:
    keep all head-quality docs, downsample the tail instead of dropping
    it, and carry the inverse-rate importance weight so the sampled
    corpus is unbiased). Per-row only — bucket from fixed thresholds on
    the quality formula, keep/drop from a salted md5 threshold per doc
    (split_holdout's idiom: stable under reruns, engines, repartitioning,
    corpus growth). ZERO shuffles at any scale; `sample_frac`'s engine
    RNG can give none of those guarantees."""
    quality = _quality()
    bucket = (
        F.when(quality >= 0.55, "head").when(quality >= 0.40, "mid").otherwise("tail")
    )
    u100 = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":strat"))), 1, 8
            ),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    rate = F.when(F.col("bucket") == "head", 100).when(
        F.col("bucket") == "mid", 50
    ).otherwise(10)
    w = (
        F.when(F.col("bucket") == "head", 100)
        .when(F.col("bucket") == "mid", 200)
        .otherwise(1000)
        .cast("bigint")
    )
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", bucket.alias("bucket"), u100.alias("u100"))
        .filter(F.col("u100") < rate)
        .select("doc_id", "bucket", w.alias("w_x100"))
    )


def _domain_col():
    """Normalized registered domain from the deterministic url synthesis:
    lowercase host, scheme and www. stripped — shared by domain_stats and
    its streaming twin."""
    bare = F.regexp_replace(_url_col(), "^[A-Za-z]+://", "")
    return F.regexp_replace(
        F.lower(F.regexp_extract(bare, "^[^/?]+", 0)), r"^www\.", ""
    )


def with_avg_chars(stats):
    """streaming.domain_running_stats' per-domain sums plus the average
    chars per doc as integer floor division (exact, no float-sum hazard)."""
    return stats.select(
        "domain", "n_docs", "n_tokens", "n_chars",
        F.expr("n_chars div n_docs").cast("bigint").alias("avg_chars"),
    )


# per-domain corpus accounting: CCNet/crawl pipelines budget and filter
# per REGISTERED DOMAIN, not per page. Host from the same deterministic
# url synthesis as url_normalize_dedup. The twin of domain_stats and of
# its streaming form (the final complete-mode state equals the one-shot
# aggregation exactly: integer sums are order/batching-independent).
DOMAIN_STATS_SQL = f"""WITH u AS (
  SELECT doc_id, text,
         regexp_replace(lower(regexp_extract(
             regexp_replace({_URL_SQL}, '^[A-Za-z]+://', ''), '^[^/?]+')),
             '^www\\.', '') AS domain
  FROM documents)
SELECT domain,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars,
       CAST(SUM(length(text)) // COUNT(*) AS BIGINT) AS avg_chars
FROM u GROUP BY domain"""


@op("domain_stats", DOMAIN_STATS_SQL)
def domain_stats(spark, sf_dir):
    """Per-domain corpus accounting (doc/token/char budget per registered
    domain) — what a crawl pipeline ranks and caps BEFORE fetching more
    of a domain: streaming.domain_running_stats over the batch documents,
    ONE narrow groupBy on the domain key with map-side combine, plus
    ``with_avg_chars``. At 10^12 docs the domain key is skewed (a few
    giant hosts) — the agg is partial-combine so the skew collapses
    map-side; a head-domain salt (join_salted_skew's pattern) is the
    escalation if a single domain still dominates a reducer."""
    from glre_spark.streaming import domain_running_stats

    docs = load(spark, sf_dir, "documents")
    return with_avg_chars(domain_running_stats(docs, _domain_col()))


@op(
    "filter_gopher_rules",
    # The published Gopher document-quality rules (Rae et al. 2021,
    # "Scaling Language Models", Table A1) as ONE composite keep/drop
    # verdict. Every rule is evaluated in EXACT integer arithmetic
    # (cross-multiplied thresholds, floor division for the reported
    # mean) so both engines agree bit-for-bit with no float hazard.
    f"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform(w, t -> length(t))) AS BIGINT) AS sum_len,
         CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))
              AS BIGINT) AS n_alpha,
         CAST({_STOP_COUNT_SQL.format(toks='w')} AS BIGINT) AS n_stop
  FROM w)
SELECT doc_id, n_tokens,
       CAST(100 * sum_len // n_tokens AS BIGINT) AS mean_wl_x100,
       (n_tokens BETWEEN 50 AND 100000) AS r_ntok,
       (3 * n_tokens <= sum_len AND sum_len <= 10 * n_tokens) AS r_wordlen,
       (5 * n_alpha >= 4 * n_tokens) AS r_alpha,
       (n_stop >= 2) AS r_stop,
       ((n_tokens BETWEEN 50 AND 100000)
        AND 3 * n_tokens <= sum_len AND sum_len <= 10 * n_tokens
        AND 5 * n_alpha >= 4 * n_tokens
        AND n_stop >= 2) AS keep
FROM m""",
)
def filter_gopher_rules(spark, sf_dir):
    """Composite Gopher-rules quality gate: doc length in [50, 100k]
    tokens, mean word length in [3, 10], >=80% of tokens alphabetic,
    >=2 stopword hits — one boolean per rule plus the conjunction, so a
    pipeline can both filter AND account for WHY docs died (the rule
    booleans aggregate into a per-rule kill report). Pure per-row array
    scans over built-ins — an embarrassingly-parallel map with ZERO
    shuffles at any corpus size; thresholds compare cross-multiplied
    integers, never a float ratio."""
    docs = fan_out(load(spark, sf_dir, "documents").select("doc_id", "text"))
    w = F.split(F.col("text"), " ")
    d = docs.select("doc_id", w.alias("w"))
    n = F.size("w").cast("long")
    sum_len = F.aggregate(
        F.transform("w", lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_alpha = F.size(F.filter("w", lambda t: t.rlike("[A-Za-z]"))).cast("long")
    n_stop = _stop_count(F.col("w")).cast("long")
    m = d.select(
        "doc_id",
        n.alias("n_tokens"),
        sum_len.alias("sum_len"),
        n_alpha.alias("n_alpha"),
        n_stop.alias("n_stop"),
    )
    r_ntok = F.col("n_tokens").between(50, 100000)
    r_wordlen = (3 * F.col("n_tokens") <= F.col("sum_len")) & (
        F.col("sum_len") <= 10 * F.col("n_tokens")
    )
    r_alpha = 5 * F.col("n_alpha") >= 4 * F.col("n_tokens")
    r_stop = F.col("n_stop") >= 2
    return m.select(
        "doc_id",
        "n_tokens",
        F.expr("100 * sum_len div n_tokens").cast("bigint").alias("mean_wl_x100"),
        r_ntok.alias("r_ntok"),
        r_wordlen.alias("r_wordlen"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stop"),
        (r_ntok & r_wordlen & r_alpha & r_stop).alias("keep"),
    )


@op(
    "vocab_topk_zipf",
    # Corpus vocabulary accounting: the head of the token frequency
    # distribution with Zipf rank and running coverage — what a
    # tokenizer-training / vocab-budget pass computes before anything
    # else touches the corpus. Deterministic tie-break (freq desc,
    # token asc) makes the LIMIT and both window functions
    # engine/partitioning-exact.
    """WITH f AS (
  SELECT t AS token, COUNT(*) AS freq
  FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)
  GROUP BY t),
k AS (SELECT token, freq FROM f ORDER BY freq DESC, token LIMIT 100)
SELECT token, CAST(freq AS BIGINT) AS freq,
       CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank,
       CAST(SUM(freq) OVER (ORDER BY freq DESC, token ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_freq
FROM k""",
)
def vocab_topk_zipf(spark, sf_dir):
    """Top-K vocabulary with Zipf rank and cumulative coverage. The
    corpus-sized token stream collapses through ONE map-side-combining
    groupBy on the token key (freq table is vocab-sized, not
    corpus-sized); the top-K then runs as TakeOrderedAndProject and the
    rank/running-sum window sees only K rows — the single-partition
    window is bounded by K, never by the vocabulary, so the plan is
    identical at 10^12 docs. Integer counts throughout."""
    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    topk = freq.orderBy(F.col("freq").desc(), "token").limit(100)
    w = Window.orderBy(F.col("freq").desc(), "token")
    return topk.select(
        "token",
        F.col("freq").cast("bigint").alias("freq"),
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.sum("freq")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("cum_freq"),
    )
