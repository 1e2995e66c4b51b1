"""Keyed raw-response archive (reference S6, the ``responses`` table:
``gateway/api_client.py:167-176`` schema with
``UNIQUE (api_type, brief_key, detailed_key) ON CONFLICT REPLACE``, and
``api_client.py:336-383`` for the per-api keying).

This complements the append-only JSON-lines archive (S5,
``pipeline._archive`` — the bulk-replay source): the
keyed table is the DEDUPED archive, so re-fetching the same page
replaces the stored row instead of appending a duplicate, and a replay
reads exactly one copy of every response.

Keying replicates the reference:

- ``requests_detail``: one row per document, brief_key = form_id,
  detailed_key = request id (``api_client.py:355-362``);
- ``requests_outline``: one row per ``results`` element, same keys
  (``api_client.py:363-371``);
- basic apis: one row per element, brief_key = the api's unique
  identifier (``gateway/_core.py:142-148``: users -> user_code,
  groups -> group_code, positions -> position_code, forms -> id).

Documented divergence: for apis the reference has NO identifier for
(projects / companies / fix_journals), its ``brief_key = ''`` makes
every row collapse into one under ON CONFLICT REPLACE — the archive
forgets all but the last record.  We key those rows by the md5 of the
raw payload instead, which keeps the replace-on-refetch semantics AND a
complete replayable archive.

Storage is a hive-partitioned parquet table (partition column
``api_type``) additionally BUCKETED by ``brief_key`` (see pipeline's
BUCKETED_TABLES + TableStore): an incremental archive batch rewrites
only the touched api's touched key-buckets — without the bucket, the
``requests_detail`` partition (every document ever fetched) would be
rewritten whole on every merge.
"""

from __future__ import annotations

import hashlib
import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

#: reference UNIQUE_IDENTIFIER_KEYS (gateway/_core.py:142-148)
UNIQUE_IDENTIFIER_KEYS = {
    "users": "user_code",
    "groups": "group_code",
    "positions": "position_code",
    "forms": "id",
    "requests_outline": "id",
}

#: the archive table + its merge keys
BRONZE_TABLE = "bronze_responses"
BRONZE_KEYS = ["api_type", "brief_key", "detailed_key"]
BRONZE_SCHEMA = "api_type string, brief_key string, detailed_key string, raw string"


def _dump(obj: Any) -> str:
    return json.dumps(obj, ensure_ascii=False)


def response_records(api: str, pages: list[Any]) -> list[tuple[str, str, str, str]]:
    """(api_type, brief_key, detailed_key, raw) rows for one archive batch."""
    rows: list[tuple[str, str, str, str]] = []
    if api == "requests_detail":
        for doc in pages:
            rows.append(
                (api, str(doc.get("form_id")), str(doc.get("id")), _dump(doc))
            )
        return rows
    key = UNIQUE_IDENTIFIER_KEYS.get(api)
    for page in pages:
        for res in page.get("results") or []:
            raw = _dump(res)
            if api == "requests_outline":
                brief, detailed = str(res.get("form_id")), str(res.get("id"))
            else:
                ident = res.get(key) if key else None
                brief = (
                    str(ident)
                    if ident is not None
                    else hashlib.md5(raw.encode("utf-8")).hexdigest()
                )
                detailed = ""
            rows.append((api, brief, detailed, raw))
    return rows


def archive_responses(spark: SparkSession, store, api: str, pages: list[Any]) -> int:
    """Merge one batch of raw responses into the keyed archive table.

    Returns the number of archived records.  ``store`` is a TableStore
    whose ``partitioned`` map should include ``BRONZE_TABLE`` (the
    pipeline wires this) so the merge rewrites one api partition only.
    """
    rows = response_records(api, pages)
    if not rows:
        return 0
    df = spark.createDataFrame(rows, BRONZE_SCHEMA)
    store.merge_upsert(BRONZE_TABLE, df, BRONZE_KEYS)
    return len(rows)


def read_archived(store, api: str) -> DataFrame:
    """Raw JSON strings of one api's archived responses — the dedup-safe
    replay source (column ``raw``; feed to parse_request_documents /
    parse_entities with column='raw')."""
    from pyspark.sql import functions as F

    return store.read(BRONZE_TABLE).filter(F.col("api_type") == api).select("raw")
