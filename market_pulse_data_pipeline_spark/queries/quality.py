"""Corpus quality-filtering operators (Gopher/C4-style rule suites).

The filtering half of a training-data pipeline that queries/text.py's
scoring half feeds: hard rule filters with per-rule diagnostics, PII
redaction (not just detection), character-class profiling, sentence-
level exact dedup inside documents, and an SCD2 history build over the
events stream. Every operator is a pure relational shape (map-only
projection / explode + hash-agg / window), so each hash-checks against
a DuckDB oracle.

None of these exist in the reference (its corpus is 10 stock symbols);
they extend SURVEY §2.6's north-star set. Scale notes per operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)
from market_pulse_data_pipeline_spark.sources.tables import local_frame

# Gopher-style bounds (arbitrary but fixed; the shape is the point).
_MIN_WORDS = 20
_MAX_WORDS = 10_000
_MIN_MEAN_WLEN = 2.0
_MAX_MEAN_WLEN = 12.0
_STOPWORDS = ("a", "the")  # synthetic corpus vocabulary includes both


@register(
    "corpus_quality_filter",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, source,
             len(string_split(text, ' ')) AS n_words,
             {sql_round_div("CAST(length(replace(text, ' ', '')) AS DOUBLE)",
                            "len(string_split(text, ' '))")} AS mean_wlen,
             (list_contains(string_split(text, ' '), 'a')
              OR list_contains(string_split(text, ' '), 'the'))
               AS has_stopword
      FROM documents
    )
    SELECT doc_id, lang, source, n_words, mean_wlen,
           (n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}) AS rule_len,
           (mean_wlen BETWEEN {_MIN_MEAN_WLEN} AND {_MAX_MEAN_WLEN})
             AS rule_wlen,
           has_stopword AS rule_stopword,
           ((n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS})
            AND (mean_wlen BETWEEN {_MIN_MEAN_WLEN} AND {_MAX_MEAN_WLEN})
            AND has_stopword) AS keep
    FROM scored
    """,
    doc="Gopher-style hard quality filter with per-rule diagnostics: "
    "word-count bounds, mean-word-length bounds, stopword presence. "
    "Map-only — no shuffle at any scale; the per-rule booleans are what "
    "a pipeline operator logs to audit WHY a document was dropped. "
    "mean_wlen rounds through the exact-decimal quotient so both "
    "engines agree at representation boundaries.",
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    mean_wlen = round_div(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
            "double"
        ),
        n_words,
    )
    has_stop = F.arrays_overlap(
        words, F.array(*[F.lit(s) for s in _STOPWORDS])
    )
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_wlen"),
        has_stop.alias("has_stopword"),
    )
    rule_len = F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
    rule_wlen = F.col("mean_wlen").between(_MIN_MEAN_WLEN, _MAX_MEAN_WLEN)
    return scored.select(
        "doc_id",
        "lang",
        "source",
        "n_words",
        "mean_wlen",
        rule_len.alias("rule_len"),
        rule_wlen.alias("rule_wlen"),
        F.col("has_stopword").alias("rule_stopword"),
        (rule_len & rule_wlen & F.col("has_stopword")).alias("keep"),
    )


# Same dialect-portable patterns as text_pii_scan (Java regex ∩ RE2).
_PII_EMAIL = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
_PII_ID = "[0-9]{6,}"


@register(
    "text_pii_redact",
    f"""
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL}',
                 '[EMAIL]', 'g'), '{_PII_ID}', '[ID]', 'g'))
             AS redacted_md5,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INTEGER)
             AS n_email_redacted,
           CAST(len(regexp_extract_all(
                 regexp_replace(text, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                 '{_PII_ID}')) AS INTEGER) AS n_id_redacted
    FROM documents
    """,
    doc="PII REDACTION (the action text_pii_scan only detects): emails "
    "then long digit runs replaced with typed placeholders; returns the "
    "md5 of the redacted text (hash-checkable without shipping full "
    "text through the harness) plus per-type replacement counts. "
    "Order matters and is pinned: emails first, so digit runs inside "
    "an address are counted once. Map-only at any scale; patterns "
    "restricted to the Java-regex ∩ RE2 dialect so the oracle matches "
    "byte-for-byte.",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    after_email = F.regexp_replace("text", _PII_EMAIL, "[EMAIL]")
    redacted = F.regexp_replace(after_email, _PII_ID, "[ID]")
    return docs.select(
        "doc_id",
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0)))
        .alias("n_email_redacted"),
        F.size(F.regexp_extract_all(after_email, F.lit(_PII_ID), F.lit(0)))
        .alias("n_id_redacted"),
    )


@register(
    "char_class_profile",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_total,
           length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
           length(regexp_replace(text, '[^ ]', '', 'g')) AS n_space,
           {sql_round_div(
             "CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) "
             "AS DOUBLE)", "length(text)")} AS alpha_frac,
           {sql_round_div(
             "CAST(length(regexp_replace(text, '[^ ]', '', 'g')) "
             "AS DOUBLE)", "length(text)")} AS space_frac
    FROM documents
    WHERE length(text) > 0
    """,
    doc="character-class profile (alpha/digit/space counts + fractions) "
    "— the symbol-ratio signal of C4/Gopher filters, kept to exact "
    "rational arithmetic (counts and decimal-rounded quotients, no "
    "transcendentals) so the hash comparison is bit-stable. Map-only.",
)
def char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_total = F.length("text")

    def class_count(pattern: str):
        return F.length(F.regexp_replace("text", pattern, ""))

    n_alpha = class_count("[^a-zA-Z]")
    n_digit = class_count("[^0-9]")
    n_space = class_count("[^ ]")
    return docs.select(
        "doc_id",
        n_total.alias("n_chars_total"),
        n_alpha.alias("n_alpha"),
        n_digit.alias("n_digit"),
        n_space.alias("n_space"),
        round_div(n_alpha.cast("double"), n_total).alias("alpha_frac"),
        round_div(n_space.cast("double"), n_total).alias("space_frac"),
    )


_SENT_W = 10  # tokens per pseudo-sentence (synthetic corpus has no '.')


@register(
    "sentence_dedup_profile",
    f"""
    WITH sents AS (
      SELECT doc_id,
             CAST((g.start - 1) / {_SENT_W} AS INTEGER) AS sent_id,
             md5(array_to_string(
               list_slice(string_split(text, ' '),
                          g.start, g.start + {_SENT_W} - 1), ' ')) AS h
      FROM documents,
           UNNEST(generate_series(
             1, len(string_split(text, ' ')), {_SENT_W})) AS g(start)
    ), firsts AS (
      SELECT h, MIN(doc_id * 1000000 + sent_id) AS first_pos, COUNT(*) AS n
      FROM sents GROUP BY h
    )
    SELECT s.doc_id,
           COUNT(*) AS n_sents,
           CAST(SUM(CASE WHEN f.first_pos < s.doc_id * 1000000 + s.sent_id
                         THEN 1 ELSE 0 END) AS INTEGER) AS n_dup_sents,
           CAST(SUM(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS INTEGER)
             AS n_shared_sents
    FROM sents s JOIN firsts f ON s.h = f.h
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    doc="sentence-level (fixed 10-token window) exact dedup profile: "
    "per document, how many of its sentences are corpus-wide "
    "duplicates (first occurrence by (doc_id, sent_id) order wins) and "
    "how many are shared at all. This is the fine-grained complement "
    "of document-level dedup_exact — the shape used to strip "
    "boilerplate lines at corpus scale. One explode + one hash-agg on "
    "a 16-byte digest + one digest-keyed join back: at 100 TB both "
    "shuffles key on md5(sentence), which is uniformly distributed "
    "(no skew), and the join's build side (distinct digests) is the "
    "compressible one.",
)
def sentence_dedup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sents = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size(toks), F.lit(_SENT_W))
        ).alias("start"),
        toks.alias("tk"),
    ).select(
        "doc_id",
        ((F.col("start") - 1) / _SENT_W).cast("int").alias("sent_id"),
        F.md5(
            F.array_join(
                F.slice(F.col("tk"), F.col("start"), _SENT_W), " "
            ).cast("binary")
        ).alias("h"),
    )
    pos = F.col("doc_id") * 1_000_000 + F.col("sent_id")
    firsts = sents.groupBy("h").agg(
        F.min(pos).alias("first_pos"), F.count(F.lit(1)).alias("n")
    )
    return (
        sents.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sents"),
            F.sum(
                F.when(F.col("first_pos") < pos, 1).otherwise(0)
            ).cast("int").alias("n_dup_sents"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
            .cast("int")
            .alias("n_shared_sents"),
        )
        .orderBy("doc_id")
    )


@register(
    "scd2_user_event_type_history",
    """
    WITH runs AS (
      SELECT user_id, event_type, ts,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), grp AS (
      SELECT user_id, event_type, ts,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS run_id
      FROM runs
    )
    SELECT user_id, CAST(run_id AS INTEGER) AS version, event_type,
           epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS valid_from_us,
           epoch_us(CAST(MAX(ts) AS TIMESTAMP)) AS last_seen_us,
           CAST(COUNT(*) AS INTEGER) AS n_events
    FROM grp
    WHERE user_id < 100
    GROUP BY user_id, run_id, event_type
    ORDER BY user_id, version
    """,
    doc="SCD2 (type-2 slowly-changing-dimension) history build from an "
    "event stream: per user, consecutive runs of the same event_type "
    "collapse into versioned validity intervals (valid_from/last_seen) "
    "via the classic gaps-and-islands shape — lag() change detection + "
    "running-sum run id + per-run aggregate. Two window passes and one "
    "aggregate, all partitioned by user_id: a single shuffle at any "
    "scale, and AQE handles hot users. The reference's MERGE keeps "
    "only latest state (J2/J3); this keeps full history — the other "
    "half of warehouse dimension maintenance.",
)
def scd2_user_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("is_start"),
    )
    # the running sum must consume is_start from a separate projection
    # (window-in-window is rejected); both windows share the same
    # (user_id | ts, event_id) sort so only one shuffle+sort is planned.
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = runs.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("is_start").over(wsum).alias("run_id"),
    )
    return (
        grp.groupBy("user_id", "run_id", "event_type")
        .agg(
            # epoch micros, not raw timestamps: compared bytes must not
            # depend on the harness session's timezone/rendering
            F.unix_micros(F.min("ts")).alias("valid_from_us"),
            F.unix_micros(F.max("ts")).alias("last_seen_us"),
            F.count(F.lit(1)).cast("int").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("run_id").cast("int").alias("version"),
            "event_type",
            "valid_from_us",
            "last_seen_us",
            "n_events",
        )
        .orderBy("user_id", "version")
    )


_FUZZY_HEAD = 40  # compared prefix length
_FUZZY_MAX_DIST = 12  # edit-distance threshold (corpus gap: 0 vs >=16)
_FUZZY_BUCKET = 50  # n_chars blocking bucket width


@register(
    "dedup_fuzzy_blocked",
    f"""
    WITH d AS (
      SELECT doc_id, lang, n_chars // {_FUZZY_BUCKET} AS bucket,
             substr(text, 1, {_FUZZY_HEAD}) AS head
      FROM documents
    )
    SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id,
           CAST(levenshtein(a.head, b.head) AS INTEGER) AS dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= {_FUZZY_MAX_DIST}
    ORDER BY a_doc_id, b_doc_id
    """,
    doc="blocked fuzzy entity-resolution join: candidate pairs come "
    "only from (lang, length-bucket) blocks — never an all-pairs cross "
    "— then exact Levenshtein on a fixed 40-char prefix keeps the "
    "quadratic-cost kernel bounded per pair. The classic record-"
    "linkage shape: at 100 TB the join shuffles on the blocking key, "
    "pair count is sum of block-size squares (controlled by bucket "
    "width), and edit distance runs JVM-side (built-in levenshtein, "
    "identical semantics in DuckDB). Complements digest/MinHash dedup "
    "with typo-tolerant matching.",
)
def dedup_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        # integer div (the r12 idiom): identical to DuckDB's // for
        # every input, no double quotient in the compared path
        F.expr(f"n_chars div {_FUZZY_BUCKET}").alias("bucket"),
        F.substring("text", 1, _FUZZY_HEAD).alias("head"),
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(dist <= _FUZZY_MAX_DIST)
        .select(
            F.col("a.doc_id").alias("a_doc_id"),
            F.col("b.doc_id").alias("b_doc_id"),
            dist.cast("int").alias("dist"),
        )
        .orderBy("a_doc_id", "b_doc_id")
    )


_KANON = 5


@register(
    "k_anonymity_check",
    f"""
    WITH groups AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
      FROM customer GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, group_size,
           group_size < {_KANON} AS violates_k
    FROM groups
    """,
    doc=f"k-anonymity audit (k={_KANON}) over the quasi-identifier "
    "pair (nation, market segment): any equivalence class smaller "
    "than k re-identifies its members — the governance check run "
    "before releasing or training on user-adjacent tables. One hash "
    "aggregate; at 100 TB the class count is bounded by the "
    "quasi-identifier domain, not row count, and the violating "
    "classes are exactly the rows a suppression/generalization pass "
    "would rewrite.",
)
def k_anonymity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            (F.col("group_size") < _KANON).alias("violates_k"),
        )
    )


# log10(1 + 1/d) for d = 1..9, precomputed so BOTH engines consume the
# same literal doubles (log10 itself is libm-dependent)
_BENFORD_P = [
    0.3010299957, 0.1760912591, 0.1249387366, 0.096910013, 0.079181246,
    0.0669467896, 0.057991947, 0.0511525224, 0.0457574906,
]


@register(
    "benford_first_digit_audit",
    f"""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                            AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), expected(digit, p) AS (
      VALUES {", ".join(f"({d}, {p!r})" for d, p in enumerate(_BENFORD_P, 1))}
    ), total AS (SELECT COUNT(*) AS n FROM digits)
    SELECT e.digit, COALESCE(o.n_obs, 0) AS n_obs,
           CAST(ROUND(CAST(e.p * t.n AS DECIMAL(28,10)), 2) AS DOUBLE)
             AS n_expected,
           CAST(ROUND(CAST((COALESCE(o.n_obs, 0) - e.p * t.n)
                  * (COALESCE(o.n_obs, 0) - e.p * t.n) / (e.p * t.n)
                  AS DECIMAL(28,10)), 4) AS DOUBLE) AS chi2_term
    FROM expected e
    LEFT JOIN (SELECT digit, COUNT(*) AS n_obs FROM digits GROUP BY 1) o
      ON o.digit = e.digit
    CROSS JOIN total t
    """,
    doc="Benford's-law first-digit audit of order totals — the fraud/"
    "synthetic-data smell test: observed first-digit counts vs "
    "n*log10(1+1/d) with per-digit chi-square terms. The log10 "
    "probabilities are PRECOMPUTED literals shared by both engines "
    "(libm log10 is not portable; literals are), the first digit "
    "comes from a fixed-scale decimal rendering (portable, unlike "
    "double rendering), and the chi2 arithmetic is identical doubles "
    "snapped before rounding. One scan + a 9-row broadcast.",
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("int")
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        digit.alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    expected = local_frame(
        spark,
        [(d, p) for d, p in enumerate(_BENFORD_P, 1)],
        "digit int, p double",
    )
    total = digits.agg(F.count(F.lit(1)).alias("n"))
    exp_n = F.col("p") * F.col("n")
    diff = F.coalesce(F.col("n_obs"), F.lit(0)) - exp_n
    return (
        expected.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_obs"),
            F.round(exp_n.cast("decimal(28,10)"), 2)
            .cast("double")
            .alias("n_expected"),
            F.round((diff * diff / exp_n).cast("decimal(28,10)"), 4)
            .cast("double")
            .alias("chi2_term"),
        )
    )


@register(
    "chi2_independence_lang_source",
    """
    WITH obs AS (
      SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2
    ), rows_t AS (SELECT lang, SUM(n) AS nr FROM obs GROUP BY lang),
    cols_t AS (SELECT source, SUM(n) AS nc FROM obs GROUP BY source),
    tot AS (SELECT SUM(n) AS nt FROM obs)
    SELECT o.lang, o.source, o.n,
           CAST(ROUND(CAST(CAST(r.nr * c.nc AS DOUBLE) / t.nt
                  AS DECIMAL(28,10)), 4) AS DOUBLE) AS n_expected,
           CAST(ROUND(CAST((o.n - CAST(r.nr * c.nc AS DOUBLE) / t.nt)
                  * (o.n - CAST(r.nr * c.nc AS DOUBLE) / t.nt)
                  / (CAST(r.nr * c.nc AS DOUBLE) / t.nt)
                  AS DECIMAL(28,10)), 4) AS DOUBLE) AS chi2_term
    FROM obs o
    JOIN rows_t r ON r.lang = o.lang
    JOIN cols_t c ON c.source = o.source
    CROSS JOIN tot t
    """,
    doc="chi-square independence audit of the (lang, source) "
    "contingency table — the corpus-balance diagnostic that tells you "
    "whether language mix differs by source (it should match the "
    "mixture design; a large chi2 term flags a skewed cell). Expected "
    "counts are exact-integer products over one division — identical "
    "doubles both engines, decimal-snapped before rounding. Shape: "
    "one aggregate + two marginal re-aggregates over a "
    "|langs|x|sources|-bounded table.",
)
def chi2_independence_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    rows_t = obs.groupBy("lang").agg(F.sum("n").alias("nr"))
    cols_t = obs.groupBy("source").agg(F.sum("n").alias("nc"))
    tot = obs.agg(F.sum("n").alias("nt"))
    exp = (F.col("nr") * F.col("nc")).cast("double") / F.col("nt")
    diff = F.col("n") - exp
    return (
        obs.join(F.broadcast(rows_t), "lang")
        .join(F.broadcast(cols_t), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n",
            F.round(exp.cast("decimal(28,10)"), 4)
            .cast("double")
            .alias("n_expected"),
            F.round((diff * diff / exp).cast("decimal(28,10)"), 4)
            .cast("double")
            .alias("chi2_term"),
        )
    )


_FH_BUCKETS = 256
_FH_SQL_H60 = "(('0x' || substring(md5({e}), 1, 15))::BIGINT)"


@register(
    "hashed_linear_quality_score",
    f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             {_FH_SQL_H60.format(e="concat('f:', tok)")} % {_FH_BUCKETS}
               AS bucket
      FROM toks
    ),
    scored AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             CAST(SUM(({_FH_SQL_H60.format(
                 e="concat('w:', CAST(bucket AS VARCHAR))")}
                 % 2001) - 1000) AS BIGINT) AS raw_milli
      FROM feat GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, raw_milli,
           CAST(ROUND(CAST(raw_milli / (1000.0 * n_tokens)
                AS DECIMAL(28,10)), 6) AS DOUBLE) AS score,
           (raw_milli > 0) AS keep
    FROM scored
    """,
    doc="hashing-trick linear quality classifier (the fasttext-style "
    "shape every corpus pipeline runs): tokens hash into "
    f"{_FH_BUCKETS} feature buckets, each bucket carries a fixed "
    "weight (here deterministic md5-derived milli-weights standing in "
    "for trained coefficients — integer-exact, so the score is an "
    "exact rational and the decision boundary is engine-stable), and "
    "the document score is the mean token weight with keep = "
    "score > 0. Inference is explode + map-side expression + one "
    "hash aggregate per doc — NO model join (weights derive in "
    "codegen; a real model would broadcast a 256-row weight table). "
    "At 100 TB this is the map-only scoring pass that gates "
    "documents before expensive dedup/embedding stages; swapping the "
    "pseudo-weights for trained ones changes one expression.",
)
def hashed_linear_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        portable_hash60,
    )

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    feat = toks.select(
        "doc_id",
        F.pmod(
            portable_hash60(F.concat(F.lit("f:"), F.col("tok"))),
            F.lit(_FH_BUCKETS),
        ).alias("bucket"),
    )
    w = (
        F.pmod(
            portable_hash60(
                F.concat(F.lit("w:"), F.col("bucket").cast("string"))
            ),
            F.lit(2001),
        )
        - 1000
    )
    scored = feat.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(w).cast("long").alias("raw_milli"),
    )
    score = F.round(
        (F.col("raw_milli") / (1000.0 * F.col("n_tokens"))).cast(
            "decimal(28,10)"
        ),
        6,
    ).cast("double")
    return scored.select(
        "doc_id",
        "n_tokens",
        "raw_milli",
        score.alias("score"),
        (F.col("raw_milli") > 0).alias("keep"),
    )


# --------------------------------------------------------------------
# quality_threshold_sweep
# --------------------------------------------------------------------

_TS_LABEL_CHARS = 300  # ground-truth label: n_chars >= this (~50/50 split)
_TS_RES = 20  # score-bucket resolution: thresholds at multiples of 1/20


@register(
    "quality_threshold_sweep",
    f"""
    WITH toks AS (
      SELECT doc_id, n_chars, UNNEST(string_split(text, ' ')) AS tok
      FROM documents
    ),
    feat AS (
      SELECT doc_id, n_chars,
             {_FH_SQL_H60.format(e="concat('f:', tok)")} % {_FH_BUCKETS}
               AS bucket
      FROM toks
    ),
    scored AS (
      SELECT doc_id,
             MIN(n_chars) >= {_TS_LABEL_CHARS} AS label,
             COUNT(*) AS n_tokens,
             CAST(SUM(({_FH_SQL_H60.format(
                 e="concat('w:', CAST(bucket AS VARCHAR))")}
                 % 2001) - 1000) AS BIGINT) AS raw_milli
      FROM feat GROUP BY doc_id
    ),
    bucketed AS (
      -- exact integer floor(score * RES) = floor(raw_milli /
      -- (1000/RES * n_tokens)); portable floor division via the
      -- always-non-negative modulus
      SELECT CAST((raw_milli
                   - ((raw_milli % ({1000 // _TS_RES} * n_tokens))
                      + ({1000 // _TS_RES} * n_tokens))
                     % ({1000 // _TS_RES} * n_tokens))
                  / ({1000 // _TS_RES} * n_tokens) AS BIGINT) AS b,
             label
      FROM scored
    ),
    hist AS (
      SELECT b,
             SUM(CASE WHEN label THEN 1 ELSE 0 END) AS pos,
             SUM(CASE WHEN label THEN 0 ELSE 1 END) AS neg
      FROM bucketed GROUP BY b
    ),
    curve AS (
      SELECT b,
             SUM(pos) OVER (ORDER BY b DESC) AS tp,
             SUM(neg) OVER (ORDER BY b DESC) AS fp,
             SUM(pos) OVER () AS total_pos
      FROM hist
    )
    SELECT CAST(b AS INTEGER) AS threshold_bucket,
           CAST(b AS DOUBLE) / {_TS_RES} AS threshold,
           CAST(tp + fp AS BIGINT) AS n_pred_pos,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(total_pos - tp AS BIGINT) AS fn,
           {sql_round_div("tp", "tp + fp")} AS precision,
           {sql_round_div("tp", "total_pos")} AS recall,
           {sql_round_div("2 * tp", "2 * tp + fp + (total_pos - tp)")}
             AS f1
    FROM curve
    ORDER BY threshold_bucket
    """,
    doc="precision/recall/F1 threshold sweep over the hashing-trick "
    "quality classifier's scores (hashed_linear_quality_score is the "
    "scoring pass; this picks its operating point) against a "
    "deterministic ground-truth label (n_chars >= 300, ~50/50 at the "
    "fixture SFs). The curve is computed the scale-correct way: "
    "scores histogram into exact integer buckets (floor(score*20) "
    "computed as integer floor division of raw_milli — no float "
    "boundary can move a doc across buckets), ONE doc-level hash "
    "aggregate builds the (bucket, label) histogram, and the whole "
    "PR curve falls out of suffix sums over the <=41-row histogram — "
    "never a per-threshold rescan of the corpus. Predicting positive "
    "at threshold b/20 is exactly bucket >= b (floor contract), so "
    "every tp/fp/fn is integer-exact cross-engine; ratios go through "
    "the shared decimal rounding route. At 100 TB: explode + two "
    "hash aggregates on the corpus, then driver-free window math on "
    "a bounded table.",
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        portable_hash60,
    )

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    )
    feat = toks.select(
        "doc_id",
        "n_chars",
        F.pmod(
            portable_hash60(F.concat(F.lit("f:"), F.col("tok"))),
            F.lit(_FH_BUCKETS),
        ).alias("bucket"),
    )
    w = (
        F.pmod(
            portable_hash60(
                F.concat(F.lit("w:"), F.col("bucket").cast("string"))
            ),
            F.lit(2001),
        )
        - 1000
    )
    scored = feat.groupBy("doc_id").agg(
        (F.min("n_chars") >= _TS_LABEL_CHARS).alias("label"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(w).cast("long").alias("raw_milli"),
    )
    # exact integer floor(score * RES); see the oracle comment
    d = F.lit(1000 // _TS_RES) * F.col("n_tokens")
    b = (
        (F.col("raw_milli") - F.pmod(F.col("raw_milli"), d)) / d
    ).cast("long")
    hist = (
        scored.select(b.alias("b"), "label")
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("label"), 1).otherwise(0)).alias("pos"),
            F.sum(F.when(F.col("label"), 0).otherwise(1)).alias("neg"),
        )
    )
    # the histogram is bounded (<= 2*RES+1 rows), so the unpartitioned
    # windows below are driver-free math on a tiny table, not a skew
    suffix = Window.orderBy(F.desc("b")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    everything = Window.orderBy(F.desc("b")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    curve = hist.select(
        "b",
        F.sum("pos").over(suffix).alias("tp"),
        F.sum("neg").over(suffix).alias("fp"),
        F.sum("pos").over(everything).alias("total_pos"),
    )
    fn = F.col("total_pos") - F.col("tp")
    return curve.select(
        F.col("b").cast("int").alias("threshold_bucket"),
        (F.col("b").cast("double") / _TS_RES).alias("threshold"),
        (F.col("tp") + F.col("fp")).cast("long").alias("n_pred_pos"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        round_div(F.col("tp").cast("double"), F.col("tp") + F.col("fp")).alias(
            "precision"
        ),
        round_div(F.col("tp").cast("double"), F.col("total_pos")).alias(
            "recall"
        ),
        round_div(
            (F.lit(2) * F.col("tp")).cast("double"),
            F.lit(2) * F.col("tp") + F.col("fp") + fn,
        ).alias("f1"),
    ).orderBy("threshold_bucket")
