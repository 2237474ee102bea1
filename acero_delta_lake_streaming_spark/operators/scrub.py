"""PII scrubbing for training corpora: regex detection + redaction of
emails, phone numbers, and IPv4 addresses, with per-document match
accounting.

The reference pipeline ships raw article text straight into LLM
extraction (processor.py:74-117) with no privacy pass; any production
training-data pipeline scrubs PII between ingestion and tokenization.
The synthetic ``documents`` fixture contains no organic PII, so the
query entry deterministically injects synthetic PII derived from
``doc_id`` (no RNG — the same document always carries the same
planted email/phone/IP) and then runs the real redaction machinery
over it; the DuckDB oracle replays both the injection and the scrub,
so detection counts AND the md5 of the redacted text are
hash-verified end to end.

Scale shape: pure per-row map — no shuffle, no Python. The regex
evaluation happens JVM-side inside whole-stage codegen
(``regexp_extract_all`` / ``regexp_replace``), so the scrub runs at
scan speed and pipelines into whatever follows (tokenization,
packing) without a stage break. At 100 TB this is the ideal operator
shape: embarrassingly parallel, zero state.

Parity notes: patterns are restricted to the syntax subset Java
``java.util.regex`` (Spark) and RE2 (DuckDB) evaluate identically —
character classes, bounded repeats, ``\\b`` word boundaries; no
lookaround, no backreferences. Counts are cast to BIGINT on both
sides; the redacted text itself is never emitted raw (md5 + length
only), keeping the row narrow.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from acero_delta_lake_streaming_spark.catalog import load_table

# (kind, pattern, replacement). Pattern syntax is the Java-regex /
# RE2 common subset. Redaction applies in list order; the order is
# load-bearing (an email must be scrubbed before its numeric domain
# fragment could ever be misread by a later pattern).
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\+1-555-[0-9]{3}-[0-9]{4}", "[PHONE]"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
]


def redact_pii(df: DataFrame, col: str) -> DataFrame:
    """Add ``n_<kind>`` match counts (computed on the ORIGINAL text)
    and replace ``col`` with its redacted form. Pure map; column order
    of `PII_PATTERNS` decides redaction precedence."""
    out = df
    for kind, pat, _ in PII_PATTERNS:
        out = out.withColumn(
            f"n_{kind}",
            F.size(F.regexp_extract_all(F.col(col), F.lit(pat), F.lit(0)))
            .cast("bigint"),
        )
    red = F.col(col)
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return out.withColumn(col, red)


def _inject_spark(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic-PII injection keyed on doc_id: every
    3rd doc gains an email, every 5th a phone, every 4th an IP."""
    did = F.col("doc_id")
    email = F.when(
        did % 3 == 0,
        F.concat(
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@mail.example.com"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 5 == 0,
        F.concat(
            F.lit(" call +1-555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(((did * 7) % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        did % 4 == 0,
        F.concat(
            F.lit(" from 10."),
            (did % 256).cast("string"),
            F.lit(".0."),
            ((did * 13) % 256).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return docs.withColumn("dirty", F.concat(F.col("text"), email, phone, ip))


def x16_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub the (synthetically dirtied) documents table: per document,
    how many of each PII kind were found, and the md5 + length of the
    redacted text proving the replacement actually happened."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    scrubbed = redact_pii(_inject_spark(docs), "dirty")
    return scrubbed.select(
        "doc_id",
        "source",
        "n_email",
        "n_phone",
        "n_ipv4",
        F.md5(F.col("dirty")).alias("redacted_md5"),
        F.length(F.col("dirty")).cast("bigint").alias("redacted_len"),
    )


_EMAIL_PAT = PII_PATTERNS[0][1]
_PHONE_PAT = PII_PATTERNS[1][1]
_IPV4_PAT = PII_PATTERNS[2][1]

_X16_SQL = (
    "WITH d AS (SELECT doc_id, source, text || "
    "CASE WHEN doc_id % 3 = 0 THEN ' contact user' || "
    "CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END || "
    "CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-' || "
    "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || "
    "lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ELSE '' END || "
    "CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.0.' || "
    "CAST((doc_id * 13) % 256 AS VARCHAR) ELSE '' END AS dirty "
    "FROM documents) "
    "SELECT doc_id, source, "
    f"CAST(len(regexp_extract_all(dirty, '{_EMAIL_PAT}')) AS BIGINT) "
    "AS n_email, "
    f"CAST(len(regexp_extract_all(dirty, '{_PHONE_PAT}')) AS BIGINT) "
    "AS n_phone, "
    f"CAST(len(regexp_extract_all(dirty, '{_IPV4_PAT}')) AS BIGINT) "
    "AS n_ipv4, "
    "md5(regexp_replace(regexp_replace(regexp_replace(dirty, "
    f"'{_EMAIL_PAT}', '[EMAIL]', 'g'), "
    f"'{_PHONE_PAT}', '[PHONE]', 'g'), "
    f"'{_IPV4_PAT}', '[IP]', 'g')) AS redacted_md5, "
    "CAST(length(regexp_replace(regexp_replace(regexp_replace(dirty, "
    f"'{_EMAIL_PAT}', '[EMAIL]', 'g'), "
    f"'{_PHONE_PAT}', '[PHONE]', 'g'), "
    f"'{_IPV4_PAT}', '[IP]', 'g')) AS BIGINT) AS redacted_len "
    "FROM d"
)




# --------------------------------------------------------------------------
# x44 — Luhn-validated credit-card scrubbing
# --------------------------------------------------------------------------
#
# A bare [0-9]{16} regex is how PII scrubbers generate false positives:
# order ids and tracking numbers look exactly like cards. The industry
# separator is the Luhn mod-10 checksum — only validating candidates
# should redact. Both the injection (building a VALID or INVALID card
# per doc) and the validation run the same generated integer-arithmetic
# expression, so the whole pipeline is hash-gateable cross-engine.


def _luhn_sum(col_expr: str, length: int) -> str:
    """Luhn digit sum of a fixed-length digit string: with the check
    digit rightmost, every second digit from the right doubles (9-cap
    via 2d-9). For BOTH the 15-digit base (computing its check digit)
    and the 16-digit candidate (validating), the doubled digits sit at
    ODD 1-based positions. Pure integer ascii arithmetic — identical
    in Spark and DuckDB."""
    terms = []
    for pos in range(1, length + 1):
        d = f"(ascii(substr({col_expr}, {pos}, 1)) - 48)"
        if pos % 2 == 1:
            terms.append(
                f"(CASE WHEN 2*{d} > 9 THEN 2*{d}-9 ELSE 2*{d} END)"
            )
        else:
            terms.append(d)
    return "(" + " + ".join(terms) + ")"


def _x44_dirty(cast_str: str) -> str:
    """The synthetic card injection, engine-parameterized only by the
    string-cast type name: even doc_ids get a 16-digit number whose
    check digit is Luhn-CORRECT for doc_id % 4 = 0 and off-by-5
    otherwise — the scrubber must redact the former and keep the
    latter."""
    base = f"lpad(CAST(doc_id * 37 AS {cast_str}), 15, '0')"
    luhn = _luhn_sum(base, 15)
    check = f"((10 - ({luhn}) % 10) % 10)"
    digit = (
        f"CASE WHEN doc_id % 4 = 0 THEN {check} "
        f"ELSE ({check} + 5) % 10 END"
    )
    return (
        "text || CASE WHEN doc_id % 2 = 0 THEN ' card ' || "
        f"{base} || CAST({digit} AS {cast_str}) ELSE '' END"
    )


_CC_PAT = "[0-9]{16}"


def _x44_select(extract: str) -> str:
    """The shared Luhn validation of a doc's candidate (1 when it
    validates, else 0) — both engines redact only when it does.
    ``extract`` is the engine's regexp_extract call for group 0."""
    cand = f"nullif({extract}, '')"
    return (
        f"CASE WHEN {cand} IS NOT NULL "
        f"AND ({_luhn_sum(cand, 16)}) % 10 = 0 THEN 1 ELSE 0 END"
    )


def x44_luhn_card_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: 16-digit candidates found, whether the candidate
    passes Luhn, and the md5 + length of the text after redacting ONLY
    validated cards — an invalid lookalike (a tracking number) must
    survive untouched, which the hash pins."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    dirty = docs.withColumn("dirty", F.expr(_x44_dirty("STRING")))
    extract = f"regexp_extract(dirty, '{_CC_PAT}', 0)"
    valid = _x44_select(extract)
    redacted = (
        f"CASE WHEN ({valid}) = 1 THEN "
        f"regexp_replace(dirty, '{_CC_PAT}', '[CARD]') ELSE dirty END"
    )
    return dirty.select(
        "doc_id",
        "source",
        F.expr(
            f"CAST(size(regexp_extract_all(dirty, '{_CC_PAT}', 0)) "
            "AS BIGINT)"
        ).alias("n_cand"),
        F.expr(f"CAST({valid} AS BIGINT)").alias("n_valid"),
        F.expr(f"md5({redacted})").alias("redacted_md5"),
        F.expr(f"CAST(length({redacted}) AS BIGINT)").alias(
            "redacted_len"
        ),
    )


def _x44_sql() -> str:
    extract = f"regexp_extract(dirty, '{_CC_PAT}', 0)"
    valid = _x44_select(extract)
    redacted = (
        f"CASE WHEN ({valid}) = 1 THEN "
        f"regexp_replace(dirty, '{_CC_PAT}', '[CARD]', 'g') "
        "ELSE dirty END"
    )
    return (
        f"WITH d AS (SELECT doc_id, source, {_x44_dirty('VARCHAR')} "
        "AS dirty FROM documents) "
        "SELECT doc_id, source, "
        f"CAST(len(regexp_extract_all(dirty, '{_CC_PAT}')) AS BIGINT) "
        "AS n_cand, "
        f"CAST({valid} AS BIGINT) AS n_valid, "
        f"md5({redacted}) AS redacted_md5, "
        f"CAST(length({redacted}) AS BIGINT) AS redacted_len "
        "FROM d"
    )


QUERIES = {
    "x16_pii_redaction": x16_pii_redaction,
    "x44_luhn_card_scrub": x44_luhn_card_scrub,
}

ORACLES = {
    "x16_pii_redaction": _X16_SQL,
    "x44_luhn_card_scrub": _x44_sql(),
}
