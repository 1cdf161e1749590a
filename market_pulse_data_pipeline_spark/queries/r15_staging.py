"""Round-12 registrations, fourth batch — staged and triple-gated in
round 11 (implementations, DuckDB value-hash oracles, pytest pins in
tests/test_r15_staging.py; check_oracle --staging matched at
sf0.001/0.01/0.1 and hostile_check --chaos --staging passed),
registered in round 12 under VERDICT round-11 item 7's accelerated
drain (backlog ≤ 21 by end of round 12, full drain by round 16).

The three close the web-corpus ingestion tier the registry does not
yet witness:

- ``softdedup_commonness_reweight`` — SoftDeDup (He et al. 2024,
  "SoftDedup: an Efficient Data Reweighting Method for Speeding Up
  Language Model Pre-training"): instead of REMOVING near-duplicates,
  keep every document and DOWN-WEIGHT it by its "commonness" — how
  often its n-gram content recurs across the corpus. Commonness here
  is the mean corpus document-frequency of the doc's distinct word
  4-gram shingles; the per-doc sampling weight is its reciprocal,
  computed directly from the two exact integers (n_sh / sum_df)
  through the shared decimal-quotient route so no double-rounding
  boundary exists. The registered dedup family (exact / Jaccard /
  MinHash / SimHash / containment) all DROP rows; this is the
  loss-reweighting alternative a training pipeline uses when it
  cannot afford to lose coverage.
- ``url_canonicalize_dedup`` — the CommonCrawl/FineWeb FIRST dedup
  stage, which runs before any content hashing: URL canonicalization
  (case-fold scheme+host, strip fragments, strip tracking-only query
  strings, strip default ports, strip trailing slashes) followed by
  an exact group-by on the canonical form with a deterministic
  survivor. Five deterministic per-doc URL variants (doc_id-derived,
  the house planting idiom) witness each rule: four spellings of the
  same resource collapse to one canonical group, the fifth stays
  distinct.
- ``domain_suffix_optout_filter`` — opt-out / blocklist suppression
  with WILDCARD domain rules (``*.tracker.com`` style): each doc's
  registrable-domain chain is exploded into its dot-suffixes (bounded
  by label count, ≤4 here) and equi-joined against the broadcast rule
  table — the scale-safe shape, versus the LIKE '%suffix' cross
  product that cannot use a join key at all. ``exact`` rules bind
  only at suffix position 0 (the full domain); ``suffix`` rules bind
  at any position. Output is the per-doc audit (blocked flag + first
  matching rule); production applies the same match as an anti-join.
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

# --------------------------------------------------------------------
# softdedup_commonness_reweight
# --------------------------------------------------------------------

_SW_N = 4  # shingle width (word 4-grams)
_SW_PLANT_MOD = 17  # every 17th doc spawns a verbatim twin
_SW_MIN_PLANT_TOKS = 8  # plant only docs long enough to carry shingles
_SW_OFFSET = 50_000_000  # twin ids, clear of fixture ids


def _softdedup_oracle() -> str:
    return f"""
    WITH src AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws
      FROM documents
      WHERE len(string_split(text, ' ')) >= {_SW_N}
    ),
    plants AS (
      SELECT doc_id + {_SW_OFFSET} AS doc_id, ws
      FROM src
      WHERE doc_id % {_SW_PLANT_MOD} = 0
        AND len(ws) >= {_SW_MIN_PLANT_TOKS}
    ),
    corpus AS (SELECT * FROM src UNION ALL SELECT * FROM plants),
    sh AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(ws[u.i + 1 : u.i + {_SW_N}], ' ')) AS h
      FROM corpus, UNNEST(range(len(ws) - {_SW_N - 1})) AS u(i)
    ),
    dfreq AS (
      SELECT h, COUNT(*) AS df FROM sh GROUP BY h
    ),
    per_doc AS (
      SELECT s.doc_id,
             COUNT(*) AS n_sh,
             SUM(d.df) AS sum_df
      FROM sh s JOIN dfreq d USING (h)
      GROUP BY s.doc_id
    )
    SELECT doc_id,
           CAST(n_sh AS BIGINT) AS n_sh,
           CAST(sum_df AS BIGINT) AS sum_df,
           {sql_round_div('sum_df * 1.0', 'n_sh')} AS commonness,
           {sql_round_div('n_sh * 1.0', 'sum_df')} AS soft_weight
    FROM per_doc
    ORDER BY doc_id
    """


@register(
    "softdedup_commonness_reweight",
    _softdedup_oracle(),
    doc="SoftDeDup reweighting (He et al. 2024): keep every document "
    "but DOWN-WEIGHT duplicated content instead of dropping it — the "
    "loss-reweighting alternative to removal when a training mix "
    "cannot afford coverage loss. Commonness = mean corpus document-"
    "frequency of the doc's DISTINCT word 4-gram shingles (md5 "
    "digests, 32 bytes of shuffle width each); soft_weight = its "
    "reciprocal, computed as the exact-integer quotient n_sh/sum_df "
    "through the shared decimal half-up route (never 1/commonness — "
    "one rounding, not two). Verbatim twins (every 17th doc, ids past "
    "5e7) witness the semantics: a doc and its clone share every "
    "shingle, so each shingle's df doubles and the pair's soft_weight "
    "falls to <= 0.5 while unique docs stay near 1.0. 100 TB shape: "
    "distinct-shingle stream -> per-digest df via ONE shingle-"
    "partitioned window (r12: the aggregate+equi-join form re-ran the "
    "shingle pipeline per consumer) -> doc-keyed aggregate. No join "
    "and no self-join anywhere, so cost is "
    "strictly linear in corpus shingles — cheaper than every pair-"
    "producing family in the registry; hot shingles need no df cap "
    "because df rides the join as a value, never a fan-out key.",
)
def softdedup_commonness_reweight(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # fan_out BEFORE the shingle projection (higher-order transform +
    # md5 per window, outside codegen): a small-file fixture scan is
    # 1-3 partitions — the round-10 single-split finding. No-op on a
    # real many-split corpus.
    src = (
        fan_out(docs)
        .select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
        .filter(F.size("ws") >= _SW_N)
    )
    plants = src.filter(
        (F.col("doc_id") % _SW_PLANT_MOD == 0)
        & (F.size("ws") >= _SW_MIN_PLANT_TOKS)
    ).select((F.col("doc_id") + _SW_OFFSET).alias("doc_id"), "ws")
    corpus = src.unionByName(plants)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("ws") - _SW_N),
        lambda i: F.md5(
            F.encode(F.concat_ws(" ", F.slice("ws", i + 1, _SW_N)), "utf-8")
        ),
    )
    sh = corpus.select("doc_id", F.explode(grams).alias("h")).distinct()
    # per-shingle df rides a shingle-partitioned window instead of an
    # aggregate + self-join: ONE consumer chain, so the shingle
    # pipeline executes once (the agg+join form re-ran it per
    # consumer — 4 document scans in the audited plan) and one whole
    # shuffle drops out
    per_doc = (
        sh.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sh"),
            F.sum("df").cast("long").alias("sum_df"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_sh",
        "sum_df",
        round_div(F.col("sum_df") * 1.0, F.col("n_sh")).alias("commonness"),
        round_div(F.col("n_sh") * 1.0, F.col("sum_df")).alias("soft_weight"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# url_canonicalize_dedup
# --------------------------------------------------------------------

_UC_FAM = 5  # URL variants per family (doc_id // 5 = family)
# canonicalization rules — ONE pattern string shared verbatim by both
# engines (Java regex and RE2 agree on this subset: character classes,
# alternation, anchors; no lookaround, no backrefs). Every pattern is
# $-anchored or single-occurrence, so DuckDB's first-match
# regexp_replace and Spark's replace-all agree by construction.
_UC_FRAG = "#.*$"  # strip fragment
_UC_TRACK = "[?]utm_[a-z]+=[^&#]*(&utm_[a-z]+=[^&#]*)*$"  # tracking-only
# query strings (all params utm_*) — mixed query strings are kept
_UC_PREFIX = "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"  # scheme://host[:port]
_UC_PORT = ":(80|443)$"  # default ports, applied to the lowered prefix
_UC_SLASH = "/$"  # trailing slash on the path part


def _url_oracle() -> str:
    fam = "CAST(doc_id // 5 AS VARCHAR)"
    return f"""
    WITH raw AS (
      SELECT doc_id,
        CASE doc_id % {_UC_FAM}
          WHEN 0 THEN 'https://www.site' || {fam} || '.com/a/b'
          WHEN 1 THEN 'HTTPS://WWW.SITE' || {fam} || '.COM/a/b#frag'
          WHEN 2 THEN 'https://www.site' || {fam}
                   || '.com:443/a/b?utm_source=feed&utm_medium=rss'
          WHEN 3 THEN 'https://www.site' || {fam} || '.com/a/b/'
          ELSE 'https://www.site' || {fam} || '.com/other'
        END AS url
      FROM documents
    ),
    st AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(url, '{_UC_FRAG}', ''),
                            '{_UC_TRACK}', '') AS u2
      FROM raw
    ),
    sp AS (
      SELECT doc_id, u2,
             regexp_extract(u2, '{_UC_PREFIX}', 1) AS prefix
      FROM st
    )
    SELECT regexp_replace(lower(prefix), '{_UC_PORT}', '')
             || regexp_replace(substring(u2, length(prefix) + 1),
                               '{_UC_SLASH}', '') AS canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keep_doc_id
    FROM sp
    GROUP BY 1
    ORDER BY canonical_url
    """


@register(
    "url_canonicalize_dedup",
    _url_oracle(),
    doc="URL canonicalization + exact dedup — the CommonCrawl/FineWeb "
    "FIRST dedup stage, run before any content hashing because it "
    "needs no text at all: strip fragments, strip tracking-only query "
    "strings (all-utm_*; mixed queries survive), case-fold the "
    "scheme://host prefix only (paths stay case-sensitive per RFC "
    "3986), strip default :80/:443 ports, strip the trailing slash, "
    "then group by the canonical form keeping the min-id survivor. "
    "Five deterministic doc_id-derived URL variants (the house "
    "planting idiom) witness each rule: per family of 5, four "
    "spellings collapse into one 4-doc canonical group and the fifth "
    "stays its own group. One regex pattern set is shared VERBATIM by "
    "both engines (Java regex vs RE2 agree on this subset; every "
    "pattern is $-anchored or single-occurrence so first-match vs "
    "replace-all semantics cannot diverge). 100 TB shape: map-only "
    "JVM regex projection + one hash aggregate keyed by canonical "
    "URL (map-side combine) — no joins, no explode; this runs on the "
    "crawl index before a single document body is fetched.",
)
def url_canonicalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id")
    fam = F.floor(F.col("doc_id") / _UC_FAM).cast("long").cast("string")
    host = F.concat(F.lit("www.site"), fam, F.lit(".com"))
    v = F.col("doc_id") % _UC_FAM
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), host, F.lit("/a/b")))
        .when(
            v == 1,
            F.concat(F.lit("HTTPS://"), F.upper(host), F.lit("/a/b#frag")),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://"),
                host,
                F.lit(":443/a/b?utm_source=feed&utm_medium=rss"),
            ),
        )
        .when(v == 3, F.concat(F.lit("https://"), host, F.lit("/a/b/")))
        .otherwise(F.concat(F.lit("https://"), host, F.lit("/other")))
    )
    st = docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(url, _UC_FRAG, ""), _UC_TRACK, ""
        ).alias("u2"),
    )
    sp = st.select(
        "doc_id", "u2", F.regexp_extract("u2", _UC_PREFIX, 1).alias("prefix")
    )
    rest = F.col("u2").substr(F.length("prefix") + 1, F.length("u2"))
    canonical = F.concat(
        F.regexp_replace(F.lower("prefix"), _UC_PORT, ""),
        F.regexp_replace(rest, _UC_SLASH, ""),
    )
    return (
        sp.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("canonical_url")
    )


# --------------------------------------------------------------------
# domain_suffix_optout_filter
# --------------------------------------------------------------------

# blocklist rules: (rule, kind). 'suffix' binds at ANY dot-suffix of
# the doc's domain (the *.rule wildcard); 'exact' binds only when the
# FULL domain equals the rule (suffix position 0). The first four
# rules all fire within the first 50 fixture doc_ids (smallest hits:
# 14, 7, 38, 4); 'ads.site7.org' fires at pos=1 (a PROPER suffix of
# cdn.ads.site7.org), witnessing wildcard binding. The fifth rule is
# the exact-kind NEGATIVE witness: 'site8.org' IS a proper suffix of
# every m=8/org domain but never a full domain (every fixture domain
# carries a sub-label), so it must match NOTHING — an engine that
# wrongly treats 'exact' as 'suffix' blocks those docs and flunks the
# value-hash.
_OO_RULES = [
    ("site3.com", "suffix"),
    ("ads.site7.org", "suffix"),
    ("api.site5.com", "exact"),
    ("cdn.ads.site4.com", "exact"),
    ("site8.org", "exact"),
]


def _optout_oracle() -> str:
    vals = ", ".join(f"('{r}', '{k}')" for r, k in _OO_RULES)
    return f"""
    WITH doms AS (
      SELECT doc_id,
             (CASE doc_id % 3 WHEN 0 THEN 'www'
                              WHEN 1 THEN 'cdn.ads'
                              ELSE 'api' END)
             || '.site' || CAST(doc_id % 11 AS VARCHAR) || '.'
             || (CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END)
               AS domain
      FROM documents
    ),
    rules(rule, kind) AS (VALUES {vals}),
    sfx AS (
      SELECT doc_id, domain, u.i AS pos,
             array_to_string(ws[u.i + 1 : len(ws)], '.') AS sfx
      FROM (SELECT doc_id, domain, string_split(domain, '.') AS ws
            FROM doms),
           UNNEST(range(len(ws))) AS u(i)
    ),
    matches AS (
      SELECT s.doc_id,
             COUNT(*) AS n_rules,
             MIN(r.rule) AS first_rule
      FROM sfx s
      JOIN rules r
        ON s.sfx = r.rule AND (r.kind = 'suffix' OR s.pos = 0)
      GROUP BY s.doc_id
    )
    SELECT d.doc_id, d.domain,
           (m.doc_id IS NOT NULL) AS blocked,
           CAST(COALESCE(m.n_rules, 0) AS BIGINT) AS n_rules,
           COALESCE(m.first_rule, '') AS first_rule
    FROM doms d LEFT JOIN matches m ON d.doc_id = m.doc_id
    ORDER BY d.doc_id
    """


@register(
    "domain_suffix_optout_filter",
    _optout_oracle(),
    doc="opt-out / blocklist suppression with WILDCARD domain rules "
    "(*.tracker.com style) — the governance gate a crawl pipeline "
    "applies before training: each doc's domain (deterministic "
    "doc_id-derived plant, the house idiom) is exploded into its dot-"
    "suffixes — BOUNDED by the label count (<= 4 here; public-suffix "
    "chains cap at ~6) — and equi-joined against the broadcast rule "
    "table, with 'exact' rules binding only at suffix position 0 "
    "(full domain) and 'suffix' rules at any position. This is the "
    "scale-safe formulation of wildcard matching: LIKE '%suffix' has "
    "no equi-key (a cartesian scan per rule), while the suffix "
    "explode turns every wildcard into a hash-join probe. Output is "
    "the per-doc audit (blocked flag, rule count, deterministic "
    "first rule); production applies the identical match as a "
    "broadcast anti-join. 100 TB shape: map-only bounded explode + "
    "one broadcast equi-join + doc-keyed aggregate — rule tables are "
    "KB-scale by nature (opt-out registries), so the join never "
    "shuffles the corpus.",
)
def domain_suffix_optout_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id")
    sub = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("www"))
        .when(F.col("doc_id") % 3 == 1, F.lit("cdn.ads"))
        .otherwise(F.lit("api"))
    )
    tld = F.when(F.col("doc_id") % 2 == 0, F.lit("com")).otherwise(
        F.lit("org")
    )
    domain = F.concat(
        sub,
        F.lit(".site"),
        (F.col("doc_id") % 11).cast("string"),
        F.lit("."),
        tld,
    )
    doms = docs.select("doc_id", domain.alias("domain"))
    ws = F.split("domain", "[.]")
    suffixes = F.transform(
        F.sequence(F.lit(0), F.size(ws) - 1),
        lambda i: F.concat_ws(".", F.slice(ws, i + 1, F.size(ws) - i)),
    )
    exploded = doms.select(
        "doc_id", "domain", F.posexplode(suffixes).alias("pos", "sfx")
    )
    rules = local_frame(spark, _OO_RULES, "rule string, kind string")
    matches = (
        exploded.join(
            F.broadcast(rules),
            (F.col("sfx") == F.col("rule"))
            & ((F.col("kind") == "suffix") | (F.col("pos") == 0)),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rules"),
            F.min("rule").alias("first_rule"),
        )
    )
    return (
        doms.join(matches, "doc_id", "left")
        .select(
            "doc_id",
            "domain",
            F.col("n_rules").isNotNull().alias("blocked"),
            F.coalesce(F.col("n_rules"), F.lit(0).cast("long")).alias(
                "n_rules"
            ),
            F.coalesce(F.col("first_rule"), F.lit("")).alias("first_rule"),
        )
        .orderBy("doc_id")
    )
