"""End-to-end bulk ETL pipeline (SURVEY §3.1, re-architected).

The reference's ``POST /himss24demo/bulkimport/latest`` flow
(``FetchBulkData/__init__.py:619-684``) as a Spark job:

1. driver-side connector: auth → $export kickoff (with the persisted
   ``_since`` cursor) → poll → land NDJSON files;
2. **one Spark job per resource type**: read that type's landed
   NDJSON files as one scan (curated schema, rows tagged by source
   file) → (source, resource) transform → write one NDJSON file per
   landed file to the export area. Files stay independent loads (the
   reference loops over them sequentially, ``:644``): every
   file-scoped rule keys on the file tag, so batching changes the job
   count, not the per-file outputs. The type jobs run concurrently
   (SURVEY §4.3.4). Streaming micro-batches land the same way;
3. driver-side sink-commit: build the FHIR ``Parameters`` manifest →
   $import → poll → archive landed files → advance the cursor.

The transform stage is shuffle-free except the EOB removed-ids
groupBy; its two joins (RxNav enrichment map, removed-ids anti-join)
broadcast. Step 2 therefore costs a fixed handful of stages per
resource type, however many files landed.
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

logger = logging.getLogger(__name__)

from .connectors.fhir_bulk import FhirBulkConnector, build_import_manifest
from .connectors.state import HighWaterMark
from .sources.ndjson import (
    INPUT_FILE_COL,
    read_ndjson,
    resource_type_from_name,
    write_ndjson_per_file,
)
from .transforms import get_transform
from .transforms.schemas import RESOURCE_SCHEMAS


@dataclass
class PipelineResult:
    landed: list[str] = field(default_factory=list)
    transformed: dict[str, str] = field(default_factory=dict)  # path -> out file
    # landed path -> (rows read, rows written), from the T16 audit
    counts: dict[str, tuple[int, int]] = field(default_factory=dict)
    import_status_url: str | None = None
    archived: list[str] = field(default_factory=list)
    since_advanced_to: str | None = None


class LandedOutput(NamedTuple):
    out: str  # the single $import-ready NDJSON file
    rows_in: int
    rows_out: int


def land_tagged_files(
    df: DataFrame,
    names: list[str],
    server_url: str,
    out_dir: str,
    rxnav: DataFrame | None = None,
) -> dict[str, LandedOutput]:
    """Transform a frame tagged by ``tag_input_file`` and land one
    ``<out_dir>/<name stem>.ndjson`` blob per file in one Spark job;
    ``names`` are the tag values, distinct file names of one resource
    type. Batch and streaming import both land here. Unknown (source,
    resource) pairs pass through untouched, as in the reference.
    File-scoped rules (the EOB removed-ids exclusion) key on the tag.
    The T16 count audit (``__init__.py:532``) rides the write as
    ``observe`` metrics, one ``count_if`` per file on each side of the
    transform: no extra jobs.
    """
    resources = {resource_type_from_name(n) for n in names}
    if len(resources) != 1 or len(set(names)) != len(names):
        raise ValueError(f"need distinct file names of one resource type: {names}")

    def per_file_counts():
        tag = F.col(INPUT_FILE_COL)
        return [F.count_if(tag == n).alias(str(i)) for i, n in enumerate(names)]

    obs_in, obs_out = Observation(), Observation()
    df = df.observe(obs_in, *per_file_counts())
    fn = get_transform(server_url, resources.pop())
    if fn is not None:
        df = fn(df, rxnav)
    df = df.observe(obs_out, *per_file_counts())
    # one NDJSON FILE per export file: $import urls must point at a
    # single application/fhir+ndjson blob, not a part-file directory
    outs = [os.path.join(out_dir, os.path.splitext(n)[0] + ".ndjson") for n in names]
    write_ndjson_per_file(df, dict(zip(names, outs)))
    res = {}
    for i, (name, out) in enumerate(zip(names, outs)):
        n_in, n_out = obs_in.get[str(i)], obs_out.get[str(i)]
        logger.info("%s: %s/%s resources will be loaded", name, n_out, n_in)
        res[name] = LandedOutput(out, n_in, n_out)
    return res


def transform_landed_files(
    spark: SparkSession,
    paths: list[str],
    server_url: str,
    out_dir: str,
    rxnav: DataFrame | None = None,
) -> dict[str, LandedOutput]:
    """Step 2 for landed files of ONE resource type, as one Spark job:
    read them as one multi-file scan tagged by source file, then
    ``land_tagged_files``. Returns ``{path: LandedOutput}``."""
    names = [os.path.basename(p) for p in paths]
    schema = RESOURCE_SCHEMAS.get(resource_type_from_name(names[0]))
    df = read_ndjson(spark, paths, schema, with_input_file=True)
    landed = land_tagged_files(df, names, server_url, out_dir, rxnav)
    return {p: landed[n] for p, n in zip(paths, names)}


def transform_landed_file(
    spark: SparkSession,
    path: str,
    server_url: str,
    out_dir: str,
    rxnav: DataFrame | None = None,
) -> str:
    """Step 2 for one landed file; returns its output file."""
    return transform_landed_files(spark, [path], server_url, out_dir, rxnav)[path].out


def run_bulk_import(
    spark: SparkSession,
    connector: FhirBulkConnector,
    server_url: str,
    group_id: str,
    token: str,
    import_server: str,
    import_token: str,
    work_dir: str,
    rxnav: DataFrame | None = None,
    state: HighWaterMark | None = None,
    client_id: str = "client",
    blob_base_url: str = "file://",
) -> PipelineResult:
    """The full export → transform → import → archive flow.

    Landed files are grouped by resource type; each group is ONE Spark
    job (``transform_landed_files``), so per-file fixed costs (the
    transform's expression tree, the RxNav broadcast, a write job) are
    paid once per type. The type jobs run concurrently on a driver-side
    thread pool under the caller's job group, where the reference loops
    over files sequentially (``__init__.py:644``; SURVEY §4.3.4).
    """
    res = PipelineResult()
    since = state.get(server_url, group_id) if state else None
    # Fallback cursor only — a FHIR _since must carry a timezone
    # (YYYY-MM-DDThh:mm:ss+zz:zz); the manifest's transactionTime (the
    # server-side high-water mark) is preferred when present.
    run_started = datetime.now(timezone.utc).isoformat(timespec="seconds")

    status_url = connector.kickoff_export(server_url, group_id, token, since=since)
    manifest = json.loads(connector.poll_status(status_url, token))
    next_cursor = manifest.get("transactionTime") or run_started

    landing = os.path.join(work_dir, "landing")
    res.landed = connector.land_export(manifest, token, landing, client_id=client_id)

    out_dir = os.path.join(work_dir, "export")
    by_type: dict[str, list[str]] = {}
    for path in res.landed:
        by_type.setdefault(resource_type_from_name(path), []).append(path)
    done: dict[str, LandedOutput] = {}
    # pool threads inherit the caller's job group, local properties and
    # tags, so the type jobs are attributed (and cancellable) like its own
    transform = inheritable_thread_target(spark)(transform_landed_files)
    with ThreadPoolExecutor(max_workers=max(1, len(by_type))) as pool:
        futures = [
            pool.submit(transform, spark, paths, server_url, out_dir, rxnav)
            for paths in by_type.values()
        ]
        for fut in futures:
            done.update(fut.result())
    # landed order: deterministic result maps
    for path in res.landed:
        res.transformed[path] = done[path].out
        res.counts[path] = (done[path].rows_in, done[path].rows_out)

    entries = [
        (p, f"{blob_base_url}{res.transformed[p]}") for p in res.landed
    ]
    import_body = build_import_manifest(entries)
    res.import_status_url = connector.bulk_import(import_server, import_token, import_body)
    connector.poll_status(res.import_status_url, import_token)

    res.archived = connector.archive_files(res.landed, os.path.join(work_dir, "archive"))
    if state is not None:
        state.advance(server_url, group_id, next_cursor)
        res.since_advanced_to = next_cursor
    return res


def compact_landing_dir(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Compact a small-files NDJSON landing zone, per resource type.

    Bulk exports land one file per manifest entry — at 100 TB that is
    easily 10^5 files of KB–MB size, and every downstream scan pays a
    task per file plus namenode/listing pressure. Compaction merges
    each resource type's files at the TEXT-LINE level (`spark.read.
    text` → ``coalesce`` → text sink): lines are moved byte-for-byte,
    never parsed, so no field can be pruned and no malformed line can
    be rewritten — schema-aware parsing happens downstream where
    errors are surfaced, not silently baked into the landing zone.
    ``coalesce`` is a narrow split merge (``repartition`` would
    shuffle the full payload for nothing).

    Returns {resource_type: n_output_files} (the ACTUAL written file
    count — coalesce cannot increase partition count, so one huge
    non-splittable input still yields one output file).
    """
    by_type: dict[str, list[str]] = {}
    for name in sorted(os.listdir(src_dir)):
        p = os.path.join(src_dir, name)
        if not os.path.isfile(p):
            continue
        by_type.setdefault(resource_type_from_name(name), []).append(p)
    out: dict[str, int] = {}
    for rt, files in by_type.items():
        total = sum(os.path.getsize(p) for p in files)
        n_out = max(1, -(-total // target_file_bytes))
        df = spark.read.text(files).coalesce(n_out)
        n_actual = df.rdd.getNumPartitions()
        df.write.mode("overwrite").text(os.path.join(out_dir, rt))
        out[rt] = n_actual
    return out


def restamp_seed_name(name: str, timestamp: int) -> str:
    """K5: replace every digit run in a seed blob name with a fresh
    epoch stamp (``re.sub('\\d+', ts)`` copy+delete,
    ``FetchBulkData/__init__.py:698-716``) so re-imports don't collide
    on versioned names."""
    return re.sub(r"\d+", str(timestamp), name)


def run_reset_and_seed(
    connector: FhirBulkConnector,
    import_server: str,
    import_token: str,
    seed_dir: str,
    work_dir: str,
    timestamp: int,
    blob_base_url: str = "file://",
) -> dict:
    """The reset flow (SURVEY §3.2, ``__init__.py:686-726``):
    $bulk-delete → poll → re-stamp seed files (K5) → import manifest
    → $import → poll. Returns {deleted, seeded, import_status_url}.
    """
    delete_status = connector.bulk_delete(import_server, import_token)
    connector.poll_status(delete_status, import_token)

    os.makedirs(work_dir, exist_ok=True)
    seeded: list[str] = []
    for name in sorted(os.listdir(seed_dir)):
        new_name = restamp_seed_name(name, timestamp)
        dst = os.path.join(work_dir, new_name)
        shutil.copyfile(os.path.join(seed_dir, name), dst)
        seeded.append(dst)

    entries = [(p, f"{blob_base_url}{p}") for p in seeded]
    body = build_import_manifest(entries)
    import_status = connector.bulk_import(import_server, import_token, body)
    connector.poll_status(import_status, import_token)
    return {
        "deleted": delete_status,
        "seeded": seeded,
        "import_status_url": import_status,
    }
