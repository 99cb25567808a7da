"""Scalar function battery — the reference's converter/scalar surface
(SURVEY.md §2.3/§2.7 "scalar functions") exercised as oracle-checkable
projections: string split/extract, JSON field access, hashing/binary
codecs, and date/time arithmetic.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from . import register

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_US = timedelta(microseconds=1)


@register(
    "q98_json_extract",
    tags=("scalar", "json"),
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
       CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS prop_k_mod10,
       json_extract_string(props, '$.missing') AS prop_missing
FROM events
WHERE event_type = 'purchase'
""",
)
def q98_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured field access — the `_msg` tag peek (S3,
    /root/reference/internal/parser/dispatcher.go:69-97) is exactly
    get_json_object before full parse."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        k.alias("prop_k"),
        (k % 10).alias("prop_k_mod10"),
        F.get_json_object("props", "$.missing").alias("prop_missing"),
    )


@register(
    "q99_string_funcs",
    tags=("scalar", "string"),
    oracle="""
SELECT doc_id,
       upper(lang) AS lang_upper,
       length(text) AS text_len,
       len(string_split(text, ' ')) AS n_tokens,
       -- DuckDB's split_part returns '' on NULL input where Spark's
       -- substring_index null-propagates; guard so both emit NULL
       CASE WHEN text IS NULL THEN NULL
            ELSE split_part(text, ' ', 1) END AS first_token,
       CASE WHEN source IS NULL OR lang IS NULL THEN NULL
            ELSE split_part(source || '@' || lang, '@', 1) END AS peer_id,
       substr(text, 1, 12) AS head12,
       regexp_extract(text, '([a-z]+)', 1) AS first_word,
       replace(substr(text, 1, 20), ' ', '_') AS head_snake,
       lpad(CAST(doc_id AS VARCHAR), 6, '0') AS padded_id,
       reverse(lang) AS lang_rev,
       CASE WHEN contains(text, 'spark') THEN 1 ELSE 0 END AS mentions_spark
FROM documents
""",
)
def q99_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface — split (C1), regexp_extract (C4/C13/C14),
    substring_index peer-id split (C10, /root/reference/lib/format.go:57-62),
    case conversion (C11), contains (S4)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper("lang").alias("lang_upper"),
        F.length("text").alias("text_len"),
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.substring_index("text", " ", 1).alias("first_token"),
        F.substring_index(F.concat("source", F.lit("@"), "lang"), "@", 1).alias("peer_id"),
        F.substring("text", 1, 12).alias("head12"),
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.replace(F.substring("text", 1, 20), F.lit(" "), F.lit("_")).alias("head_snake"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("padded_id"),
        F.reverse("lang").alias("lang_rev"),
        F.when(F.contains("text", F.lit("spark")), 1).otherwise(0).alias("mentions_spark"),
    )


@register(
    "q129_hash_codecs",
    tags=("scalar", "binary", "hash"),
    oracle="""
SELECT event_id,
       md5(event_type) AS type_md5,
       sha256(event_type || ':' || CAST(user_id AS VARCHAR)) AS key_sha256,
       CAST(('0x' || substr(md5(event_type), 1, 8)) AS BIGINT) % 64 AS hash_bucket,
       to_base64(CAST(event_type AS BLOB)) AS type_b64,
       CAST(from_base64(to_base64(CAST(event_type AS BLOB))) AS VARCHAR) AS type_roundtrip
FROM events
WHERE event_id < 200
""",
)
def q129_hash_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash/codec surface — sha2 composite keys (P7a uses sha256 of raw
    bytes, /root/reference/ossplugins/network-latency/processor.go:697-707),
    base64/hex codecs (C6/C8 msgBytes decode). The md5-prefix hash bucket
    is the engine's portable (Spark == DuckDB) hash partitioner, also used
    by the MinHash/SimHash dedup operators."""
    ev = load(spark, sf_dir, "events")
    b64 = F.base64(F.col("event_type").cast("binary"))
    return ev.filter(F.col("event_id") < 200).select(
        "event_id",
        F.md5(F.col("event_type").cast("binary")).alias("type_md5"),
        F.sha2(
            F.concat("event_type", F.lit(":"), F.col("user_id").cast("string")).cast("binary"), 256
        ).alias("key_sha256"),
        (F.conv(F.substring(F.md5(F.col("event_type").cast("binary")), 1, 8), 16, 10).cast("bigint") % 64).alias(
            "hash_bucket"
        ),
        b64.alias("type_b64"),
        F.unbase64(b64).cast("string").alias("type_roundtrip"),
    )


@register(
    "q130_datetime_funcs",
    tags=("scalar", "datetime"),
    oracle="""
SELECT event_id,
       year(ts) AS y, month(ts) AS mo, day(ts) AS d, hour(ts) AS h, minute(ts) AS mi,
       date_trunc('day', ts) AS day_start,
       date_trunc('hour', ts) AS hour_start,
       epoch_ms(ts) AS epoch_millis,
       isodow(ts) - 1 AS weekday_mon0,
       date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days_since_start,
       ts + INTERVAL 1 DAY AS ts_plus_day
FROM events
WHERE event_id < 200
""",
)
def q130_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface — RFC3339 timestamp handling (C12,
    /root/reference/lib/time.go:5-13) and the ms-latency arithmetic used by
    every latency plugin (P1-P3, P7)."""
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") < 200).select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.date_trunc("day", "ts").alias("day_start"),
        F.date_trunc("hour", "ts").alias("hour_start"),
        F.unix_millis("ts").alias("epoch_millis"),
        F.weekday("ts").alias("weekday_mon0"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias("days_since_start"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("ts_plus_day"),
    )


@register(
    "q131_case_when_battery",
    tags=("scalar", "conditional"),
    oracle="""
SELECT event_id,
       CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid' ELSE 'high' END AS value_band,
       CASE event_type
         WHEN 'click' THEN 'interaction'
         WHEN 'view' THEN 'interaction'
         WHEN 'purchase' THEN 'conversion'
         ELSE 'lifecycle' END AS type_family,
       COALESCE(NULLIF(event_type, 'error'), 'ERR') AS type_or_err,
       greatest(value, 100.0) AS val_floor100,
       least(value, 100.0) AS val_cap100
FROM events
WHERE event_id < 500
""",
)
def q131_case_when_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/COALESCE/NULLIF surface — step-name formatting (C11,
    /root/reference/lib/format.go:49-55 is a finite-vocabulary CASE) and
    channel naming (D3, /root/reference/types/channels.go:17-47)."""
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") < 500).select(
        "event_id",
        F.when(F.col("value") < 50, "low").when(F.col("value") < 150, "mid").otherwise("high").alias(
            "value_band"
        ),
        F.when(F.col("event_type").isin("click", "view"), "interaction")
        .when(F.col("event_type") == "purchase", "conversion")
        .otherwise("lifecycle")
        .alias("type_family"),
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("ERR")).alias("type_or_err"),
        F.greatest("value", F.lit(100.0)).alias("val_floor100"),
        F.least("value", F.lit(100.0)).alias("val_cap100"),
    )


@register(
    "q127_vote_parse",
    tags=("scalar", "textparse", "c14"),
    oracle="""
SELECT event_id,
       CASE WHEN event_type = 'click' THEN 'prevote' ELSE 'precommit' END
         AS vote_type,
       event_id // 7 + 1 AS height,
       event_id % 4 AS round,
       upper(substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS block_hash,
       upper(substr(md5(CAST(user_id AS VARCHAR) || 'p'), 1, 8)) AS ps_hash,
       event_id % 100 AS ps_total,
       event_id % 64 AS validator_index,
       upper(substr(md5(CAST(event_id AS VARCHAR)), 1, 12))
         AS validator_address,
       upper(substr(md5(CAST(event_id AS VARCHAR) || 's'), 1, 16)) AS signature,
       epoch_us(ts) AS ts_us
FROM events
WHERE event_id < 300
""",
)
def q127_vote_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14 vote-string parse attested against ground truth: render the
    canonical cometbft `[Vote Vote{...}]` string from events columns
    JVM-side, parse it back with the PRODUCTION parser
    (functions/blocktext.parse_vote_string, mirroring
    /root/reference/lib/parse.go:110-221) in an Arrow-batched UDF, and
    emit the extracted fields; the oracle computes the expected fields
    directly from the same source columns, so any parser drift (field
    order, zero-pad stripping, paren type names, RFC3339 fractions)
    hash-mismatches.

    Scale shape: the render is pure JVM string formatting; the parse is
    the imperative kernel the reference also pays, Arrow-batched and
    map-only (no shuffle at all — audit-gated elsewhere via the PII
    pattern).
    """
    from ..functions.blocktext import parse_vote_string

    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    eid = F.col("event_id")
    md5s = lambda c: F.upper(F.md5(c.cast("string").cast("binary")))  # noqa: E731
    vote_str = F.format_string(
        "[Vote Vote{%d:%s %d/%02d/SIGNED_MSG_TYPE_%s(%s) %s %s %012d %s @ %s}]",
        eid % 64,
        F.substring(md5s(eid), 1, 12),
        F.expr("event_id div 7 + 1"),
        eid % 4,
        F.when(F.col("event_type") == "click", "PREVOTE").otherwise("PRECOMMIT"),
        F.when(F.col("event_type") == "click", "Prevote").otherwise("Precommit"),
        F.substring(md5s(F.col("user_id")), 1, 8),
        F.substring(md5s(F.concat(F.col("user_id").cast("string"), F.lit("p"))), 1, 8),
        eid % 100,
        F.substring(md5s(F.concat(eid.cast("string"), F.lit("s"))), 1, 16),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
    )
    out_schema = (
        "vote_type string, height long, round long, block_hash string,"
        " ps_hash string, ps_total long, validator_index long,"
        " validator_address string, signature string, ts_us long"
    )

    @F.pandas_udf(out_schema)
    def parse_votes(s: pd.Series) -> pd.DataFrame:
        rows = []
        for v in s:
            d = parse_vote_string(v)
            rows.append(
                {
                    "vote_type": d["type"],
                    "height": d["height"],
                    "round": d["round"],
                    "block_hash": d["block_id"]["hash"],
                    "ps_hash": d["block_id"]["part_set_header"]["hash"],
                    "ps_total": d["block_id"]["part_set_header"]["total"],
                    "validator_index": d["validator_index"],
                    "validator_address": d["validator_address"],
                    "signature": d["signature"],
                    # exact integer micros: .timestamp()*1e6 goes through a
                    # double and drops ulps for epoch seconds >= 2^31
                    "ts_us": (
                        d["timestamp"] - _EPOCH
                    ) // _US,
                }
            )
        return pd.DataFrame(rows)

    parsed = ev.select("event_id", parse_votes(vote_str).alias("v"))
    return parsed.select(
        "event_id",
        F.col("v.vote_type").alias("vote_type"),
        F.col("v.height").alias("height"),
        F.col("v.round").alias("round"),
        F.col("v.block_hash").alias("block_hash"),
        F.col("v.ps_hash").alias("ps_hash"),
        F.col("v.ps_total").alias("ps_total"),
        F.col("v.validator_index").alias("validator_index"),
        F.col("v.validator_address").alias("validator_address"),
        F.col("v.signature").alias("signature"),
        F.col("v.ts_us").alias("ts_us"),
    )


@register(
    "q128_block_parse",
    tags=("scalar", "textparse", "c9"),
    oracle="""
SELECT event_id,
       'chain-' || CAST(user_id % 10 AS VARCHAR) AS chain_id,
       event_id // 5 + 1 AS height,
       epoch_us(ts) AS time_us,
       upper(substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS last_hash,
       event_id % 50 AS last_total,
       upper(substr(md5(CAST(event_id AS VARCHAR) || 'q'), 1, 8)) AS last_ps_hash,
       upper(substr(md5(CAST(event_id AS VARCHAR) || 'v'), 1, 8)) AS validators_hash,
       upper(substr(md5(CAST(event_id AS VARCHAR) || 'a'), 1, 8)) AS app_hash,
       upper(substr(md5(CAST(event_id AS VARCHAR) || 'pr'), 1, 12)) AS proposer,
       2 AS n_txs,
       upper(substr(md5(CAST(event_id AS VARCHAR) || 't1'), 1, 16)) AS tx0,
       event_id // 5 AS commit_height,
       event_id % 3 AS commit_round,
       upper(substr(md5(CAST(event_id AS VARCHAR) || 'va'), 1, 12)) AS sig_validator,
       2 AS sig_flag,
       epoch_us(ts) AS sig_ts_us
FROM events
WHERE event_id < 200
""",
)
def q128_block_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 block-string parse attested against ground truth: render the
    full multi-line cometbft `Block{Header{...} Data{...}
    EvidenceData{...} Commit{...}}#H` text from events columns JVM-side
    (14 header fields, tx lines, CommitSig lines, }#hash closers —
    the StringIndented shape of /root/reference/lib/parse.go:223-516),
    parse it back with the PRODUCTION recursive-descent kernel
    (functions/blocktext.parse_block_udf), and emit scalar fields from
    every section; the oracle computes the expectations directly from
    the same source columns. Exercises header dispatch-by-name, BlockID
    `hash:total:psh` splitting, tx hex extraction, and CommitSig regex
    + RFC3339 parsing in one hash-checked pass.

    Scale shape: render is JVM string formatting; the parse is the
    Arrow-batched imperative kernel, map-only (plan-gated: no Exchange).
    """
    from ..functions.blocktext import parse_block_udf

    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    eid = F.col("event_id")
    md5s = lambda c: F.upper(F.md5(c.cast("string").cast("binary")))  # noqa: E731
    tag = lambda suffix, n: F.substring(  # noqa: E731
        md5s(F.concat(eid.cast("string"), F.lit(suffix))), 1, n
    )
    ts_str = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    block_str = F.format_string(
        "Block{\n"
        "  Header{\n"
        "    Version:        {1 2}\n"
        "    ChainID:        %s\n"
        "    Height:         %d\n"
        "    Time:           %s\n"
        "    LastBlockID:    %s:%d:%s\n"
        "    LastCommit:     %s\n"
        "    Data:           %s\n"
        "    Validators:     %s\n"
        "    NextValidators: %s\n"
        "    App:            %s\n"
        "    Consensus:      %s\n"
        "    Results:        %s\n"
        "    Evidence:       %s\n"
        "    Proposer:       %s\n"
        "  }#HH\n"
        "  Data{\n"
        "    %s (8 bytes)\n"
        "    %s (8 bytes)\n"
        "  }#DH\n"
        "  EvidenceData{\n"
        "  }#EH\n"
        "  Commit{\n"
        "    Height:     %d\n"
        "    Round:      %d\n"
        "    BlockID:    %s:%d:%s\n"
        "    Signatures:\n"
        "    CommitSig{%s by %s on 2 @ %s}\n"
        "  }#CH\n"
        "}#BH",
        F.concat(F.lit("chain-"), (F.col("user_id") % 10).cast("string")),
        F.expr("event_id div 5 + 1"),
        ts_str,
        F.substring(md5s(eid), 1, 8),
        eid % 50,
        tag("q", 8),
        tag("lc", 8),
        tag("d", 8),
        tag("v", 8),
        tag("nv", 8),
        tag("a", 8),
        tag("c", 8),
        tag("r", 8),
        tag("e", 8),
        tag("pr", 12),
        tag("t1", 16),
        tag("t2", 16),
        F.expr("event_id div 5"),
        eid % 3,
        F.substring(md5s(eid), 1, 8),
        eid % 50,
        tag("q", 8),
        tag("cs", 16),
        tag("va", 12),
        ts_str,
    )
    b = parse_block_udf(block_str)
    parsed = ev.select("event_id", b.alias("b"))
    return parsed.select(
        "event_id",
        F.col("b.header.chain_id").alias("chain_id"),
        F.col("b.header.height").alias("height"),
        F.unix_micros("b.header.time").alias("time_us"),
        F.col("b.header.last_block_id.hash").alias("last_hash"),
        F.col("b.header.last_block_id.part_set_header.total").alias("last_total"),
        F.col("b.header.last_block_id.part_set_header.hash").alias("last_ps_hash"),
        F.col("b.header.validators_hash").alias("validators_hash"),
        F.col("b.header.app_hash").alias("app_hash"),
        F.col("b.header.proposer_address").alias("proposer"),
        F.size("b.data.txs").alias("n_txs"),
        F.col("b.data.txs")[0].alias("tx0"),
        F.col("b.last_commit.height").alias("commit_height"),
        F.col("b.last_commit.round").alias("commit_round"),
        F.col("b.last_commit.signatures")[0]["validator_address"].alias("sig_validator"),
        F.col("b.last_commit.signatures")[0]["block_id_flag"].alias("sig_flag"),
        F.unix_micros(F.col("b.last_commit.signatures")[0]["timestamp"]).alias("sig_ts_us"),
    )


@register(
    "q44_varint_codec",
    tags=("scalar", "codec", "d1"),
    oracle="""
WITH src AS (
  SELECT event_id, (event_id * event_id * 131) % 268435455 AS v
  FROM events WHERE event_id < 300
)
SELECT event_id, v,
       CASE
         WHEN v < 128 THEN printf('%02x', v)
         WHEN v < 16384 THEN
           printf('%02x%02x', (v % 128) + 128, v // 128)
         WHEN v < 2097152 THEN
           printf('%02x%02x%02x', (v % 128) + 128,
                  ((v // 128) % 128) + 128, v // 16384)
         ELSE
           printf('%02x%02x%02x%02x', (v % 128) + 128,
                  ((v // 128) % 128) + 128,
                  ((v // 16384) % 128) + 128, v // 2097152)
       END AS varint_hex,
       CASE WHEN v < 128 THEN 1 WHEN v < 16384 THEN 2
            WHEN v < 2097152 THEN 3 ELSE 4 END AS n_bytes,
       v AS v_decoded
FROM src
""",
)
def q44_varint_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 protowire varint codec attested against independent
    arithmetic: encode values derived from events columns with the
    PRODUCTION encoder (functions/protowire._write_varint — the same
    bytes every channel-routed proto decode walks), decode them back
    with the production reader, and compare the hex bytes against the
    oracle's 7-bit-group CASE arithmetic — little-endian group order,
    continuation bits, and minimal length all hash-checked (a pure
    round-trip would miss a shared encoder/decoder misunderstanding;
    this pins the wire format itself).

    Scale shape: map-only Arrow kernel, no shuffle (plan-gated).
    """
    from ..functions.protowire import _read_varint, _write_varint

    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    v = (F.col("event_id") * F.col("event_id") * 131) % 268435455

    @F.pandas_udf("varint_hex string, n_bytes long, v_decoded long")
    def codec(vals: pd.Series) -> pd.DataFrame:
        rows = []
        for n in vals:
            buf = _write_varint(int(n))
            decoded, end = _read_varint(buf, 0)
            rows.append(
                {"varint_hex": buf.hex(), "n_bytes": end, "v_decoded": decoded}
            )
        return pd.DataFrame(rows)

    out = ev.select("event_id", v.alias("v"), codec(v).alias("c"))
    return out.select(
        "event_id",
        "v",
        F.col("c.varint_hex").alias("varint_hex"),
        F.col("c.n_bytes").alias("n_bytes"),
        F.col("c.v_decoded").alias("v_decoded"),
    )
