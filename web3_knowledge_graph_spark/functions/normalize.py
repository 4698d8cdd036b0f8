"""Scalar normalization functions — all native Column expressions (codegen'd),
no Python UDFs. Each maps 1:1 to a per-row Python helper in the reference
(cited file:line into /root/reference/).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Strict wallet-address shape — pipelines/helpers/web3Utils.py:30-34
# (^0x[a-fA-F0-9]{40}$); duplicated at ingestion/helpers/utils.py:42-46.
WALLET_RE = r"^0x[a-fA-F0-9]{40}$"


def is_valid_wallet(c: Column) -> Column:
    return c.rlike(WALLET_RE)


def is_zero_address(c: Column) -> Column:
    """int(addr,16)==0 — helpers/utils.py:8-15, web3Utils.py:36-41."""
    return c.rlike(r"^0x0+$")


def sanitize_text(c: Column) -> Column:
    """Strip characters Neo4j LOAD CSV chokes on, then rstrip.

    Reference: pipelines/helpers/cypher.py:88-96 (sanitize_text removes
    \\r \\ " ' ` and newlines), applied at ingestion/mirror/ingest.py:21-24
    and ingestion/snapshot/ingest.py:179-182.
    """
    return F.rtrim(F.regexp_replace(c, '[\\r\\n\\\\"\'`]', ""))


def clean_symbol(c: Column) -> Column:
    """re.sub(r'\\W+','') — ingestion/tokenHolders/ingest.py:17-20."""
    return F.regexp_replace(c, r"[^A-Za-z0-9_]+", "")


def canonical_key(c: Column) -> Column:
    """Lowercased natural key — the reference lowercases every MERGE key via
    toLower() (helpers/queries.py:28,46,84) / .lower() python-side
    (ingestion/gitcoin/ingest.py:120-125)."""
    return F.lower(F.trim(c))


def hex_to_decimal(c: Column, precision: int = 38) -> Column:
    """Hex string (with or without 0x) → decimal.

    Reference: int(x,16) with arbitrary-precision guard
    (ingestion/tokenHolders/ingest.py:22-27,92-103, sys.set_int_max_str_digits
    at :7-10). Values beyond decimal(38,0) overflow to NULL — the reference
    clamps these too (ingest.py:103 caps at 1e30).
    """
    stripped = F.regexp_replace(F.lower(c), "^0x", "")
    digits = F.split(stripped, "(?!$)")  # one element per hex digit
    zero = F.lit(0).cast(f"decimal({precision},0)")
    folded = F.aggregate(
        digits,
        zero,
        lambda acc, d: F.try_add(
            F.try_multiply(acc, F.lit(16)),
            F.instr(F.lit("0123456789abcdef"), d) - 1,
        ).cast(f"decimal({precision},0)"),
    )
    # conv() overflows past uint64 under ANSI mode, so the fold does the
    # arbitrary-precision work; values beyond decimal(38,0) become NULL —
    # the analog of the reference's 1e30 clamp (ingest.py:103).
    return folded


def epoch_to_ts(c: Column) -> Column:
    """Epoch seconds → timestamp — apoc.date.toISO8601(toInteger(ts),'s')
    at helpers/queries.py:118, ingestion/mirror/cyphers.py:36."""
    return F.to_timestamp(F.from_unixtime(c.cast("long")))


def split_camel_case(c: Column) -> Column:
    """camelCase → spaced words — postProcessing/audiences/process.py:11,24
    (regex (?<=[a-z])(?=[A-Z]))."""
    return F.regexp_replace(c, r"([a-z])([A-Z])", r"$1 $2")


def node_id(label_family: Column | str, key: Column) -> Column:
    """Deterministic 64-bit node id from (label family, lowercased key).

    Replaces apoc.create.uuid() (helpers/queries.py:28 et al.) — explicit
    divergence: deterministic ids make ingestion idempotent and replayable.
    """
    fam = F.lit(label_family) if isinstance(label_family, str) else label_family
    return F.xxhash64(fam, canonical_key(key))


def audit_columns(df, run_id: str, now: str | None = None):
    """Stamp created/updated audit columns on an updates batch.

    Reference: createdDt/lastUpdateDt/ingestedBy on every node & edge
    (helpers/cypher.py:14-16, queries.py:29-33). The MERGE layer
    (sources/warehouse.Table.merge_upsert) applies the ON CREATE / ON MATCH
    split: a row that matches an existing key keeps the existing
    created_dt and only bumps last_update_dt/ingested_by.

    ``now`` pins the stamp for reproducible tests; None → wall clock.
    """
    ts = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    return (
        df.withColumn("created_dt", ts)
        .withColumn("last_update_dt", ts)
        .withColumn("ingested_by", F.lit(run_id))
    )
