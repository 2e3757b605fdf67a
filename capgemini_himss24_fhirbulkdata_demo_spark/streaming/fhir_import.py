"""Streaming FHIR import: the incremental form of pipeline.run_bulk_import
(SURVEY §3.1 step 4 + §4.3.5).

The connector (or any export process) keeps landing NDJSON files into
``landing_dir``; this stream lands each micro-batch through the batch
pipeline's core (``pipeline.land_tagged_files``) as one ``$import``-ready
``<landed name>.ndjson`` blob per landed file, and hands (paths,
batch_id) to a commit callback that POSTs the ``Parameters`` manifest.
Exactly-once comes from the checkpoint: a replayed batch re-offers the
same batch_id and rewrites the same blobs, so the commit callback
dedupes on it (manifest id = batch id).

One stream per resource type (schemas differ); the landing-file
convention ``{Type}-*.json`` routes files to their stream via glob.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import land_tagged_files
from ..sources.ndjson import INPUT_FILE_COL, tag_input_file
from ..transforms.schemas import RESOURCE_SCHEMAS
from .runner import start_stateful_query
from .sources import read_ndjson_stream


def start_streaming_import(
    spark: SparkSession,
    landing_dir: str,
    resource_type: str,
    server_url: str,
    out_dir: str,
    checkpoint_dir: str,
    commit: Callable[[list[str], int], None],
    rxnav: DataFrame | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the incremental transform→land→commit stream for one
    resource type. Returns the StreamingQuery.

    ``commit(ndjson_paths, batch_id)`` receives the batch's blobs, one
    per landed file — the slot where the FHIR ``$import`` manifest
    POST goes (idempotent on batch_id). A landed file without rows
    carries no tag, so it gets no blob; a batch without rows commits
    nothing.
    """
    schema = RESOURCE_SCHEMAS.get(resource_type)
    if schema is None:
        raise ValueError(f"no curated schema for resource type {resource_type!r}")
    pattern = os.path.join(landing_dir, f"{resource_type}-*.json")
    stream = read_ndjson_stream(
        spark, pattern, schema, max_files_per_trigger=max_files_per_trigger
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        names = sorted(r[0] for r in batch_df.select(INPUT_FILE_COL).distinct().collect())
        if not names:
            return
        landed = land_tagged_files(batch_df, names, server_url, out_dir, rxnav)
        commit([landed[n].out for n in names], batch_id)

    return start_stateful_query(
        tag_input_file(stream),
        checkpoint_dir,
        foreach_batch=process_batch,
        trigger_available_now=available_now,
    )
