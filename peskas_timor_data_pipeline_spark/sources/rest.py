"""Driver-side REST ingestors (S1, S9-S14, S16).

Same architecture as the reference: external APIs are fetched OUTSIDE the
dataframe engine and landed as files for Spark to scan (the reference
lands CSVs in GCS; we land parquet/jsonl). The fetchers take an injectable
``http_get`` callable so tests run without network; real deployments pass
``requests.get``.

Incremental semantics:
- Kobo: ``since_id`` query + pagination via ``next`` links, retry x3,
  duplicate-id check (R/retrieve-survey-data.R:32-233)
- PDS tracks: only trip ids not already landed (anti-join against the
  sink listing, R/ingest-pds-data.R:97-210)
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator

HttpGet = Callable[..., "object"]


def fetch_kobo_paginated(
    http_get: HttpGet,
    url: str,
    asset_id: str,
    auth: tuple[str, str] | None = None,
    limit: int = 1000,
    since_id: int | None = None,
    until_id: int | None = None,
    max_retries: int = 3,
) -> Iterator[dict]:
    """Paginated Kobo submission fetch (S1): ``limit``<=1000 per page,
    follow ``next`` links, ``_id > since_id`` incremental query, retry with
    backoff. Yields raw submission dicts (nested repeat groups intact —
    the flattening step is optional in this engine, §2.1 S2).

    ``until_id`` (inclusive) also lands in the API-side query — a
    partitioned scan over N disjoint id-ranges fetches each range exactly
    once (``{"_id": {"$gt": lo, "$lte": hi}}``) instead of every partition
    downloading the whole id-tail and discarding out-of-range rows."""
    bounds: dict = {}
    if since_id is not None:
        bounds["$gt"] = since_id
    if until_id is not None:
        bounds["$lte"] = until_id
    query = {"limit": limit}
    if bounds:
        query["query"] = json.dumps({"_id": bounds})
    next_url = f"{url}/api/v2/assets/{asset_id}/data.json"
    params: dict | None = query
    while next_url:
        for attempt in range(max_retries):
            try:
                resp = http_get(next_url, params=params, auth=auth)
                break
            except Exception:
                if attempt == max_retries - 1:
                    raise
                time.sleep(2**attempt)
        payload = resp.json() if hasattr(resp, "json") else resp
        yield from payload.get("results", [])
        next_url, params = payload.get("next"), None


def fetch_pds_trips_csv(
    http_get: HttpGet,
    base_url: str,
    secret: str,
    token: str,
    start_date: str,
    end_date: str,
    max_retries: int = 3,
) -> str:
    """PDS trips CSV over REST (S13, R/retrieve-pds-data.R:16-33): the
    date range rides in the path, auth in ``X-API-SECRET``/token headers.
    Returns the CSV body to land for a typed Spark read (S4)."""
    url = f"{base_url}/trips/{start_date}/{end_date}"
    headers = {"X-API-SECRET": secret, "Authorization": token}
    for attempt in range(max_retries):
        try:
            resp = http_get(url, headers=headers)
            return resp.text if hasattr(resp, "text") else str(resp)
        except Exception:
            if attempt == max_retries - 1:
                raise
            time.sleep(2**attempt)
    raise RuntimeError("unreachable")


def incremental_trip_ids(all_ids: list[int], landed_ids: set[int]) -> list[int]:
    """Ids still to fetch (S14's anti-join, R/ingest-pds-data.R:181)."""
    return [t for t in all_ids if t not in landed_ids]


def sync_flags_frames(
    local_new, remote, id_col: str = "submission_id", strict: bool = True
):
    """Two-way validation-flags sync merge (S10,
    R/validate-landings.R:295-331) as pure DataFrame algebra, with the
    reference's exact precedence rules:

    - ids only in the LOCAL frame (new submissions) are appended as-is;
    - ids in both: the machine-derived columns (``alert``,
      ``submission_date``) come from LOCAL; the human decisions
      (``validated``, ``validated_when_ymd``, ``comments``) come from
      REMOTE; ``flag_date`` keeps the remote date when the alert is
      unchanged and takes the fresh local date when the alert CHANGED
      (:305-309 case_when) — so "how long has this flag been open" survives
      re-runs but resets when the alert itself moves;
    - ``strict``: ids present remotely but missing locally raise (the
      reference's "table is shorter than remote" stop(), :301-303) — a
      shrunken local frame means upstream data loss, not validation.

    Returns the frame to write back to the sheet."""
    from pyspark.sql import functions as F

    if strict:
        orphans = remote.join(local_new, id_col, "left_anti").limit(1).count()
        if orphans:
            raise ValueError(
                "remote flags contain submission ids missing from the local "
                "frame - refusing to drop remote validation decisions"
            )
    new_rows = local_new.join(remote, id_col, "left_anti")
    both = local_new.alias("l").join(remote.alias("r"), id_col, "inner")
    kept = both.select(
        F.col(f"l.{id_col}").alias(id_col),
        F.col("l.submission_date").alias("submission_date"),
        # plain (null-propagating) equality, NOT eqNullSafe: the reference's
        # case_when(alert.x == alert.y ~ flag_date.y, TRUE ~ flag_date.x)
        # evaluates NA == NA to NA, falling through to the LOCAL flag_date —
        # a both-null alert pair keeps the local date.
        F.when(
            F.col("l.alert") == F.col("r.alert"), F.col("r.flag_date")
        )
        .otherwise(F.col("l.flag_date"))
        .alias("flag_date"),
        F.col("l.alert").alias("alert"),
        F.col("r.validated").alias("validated"),
        F.col("r.validated_when_ymd").alias("validated_when_ymd"),
        F.col("r.comments").alias("comments"),
    )
    return kept.unionByName(
        new_rows.select(
            id_col, "submission_date", "flag_date", "alert", "validated",
            "validated_when_ymd", "comments",
        )
    )
