"""NDJSON source/sink (SURVEY §2A S1/K1/T1/T18/T19).

The reference's wire format: one FHIR resource (JSON document) per
line, one file per resource type (``FetchBulkData/__init__.py:359``
decode/split/parse; ``:535`` re-join; ``:218`` type-from-filename).

Spark mapping (SURVEY §1.2): ``spark.read.json`` *is* T1 (decode,
line-split, per-line parse, null-on-missing) — distributed, spilling,
vectorized. The sink is the native ``df.write.json`` (r7; previously
``to_json(struct(*))`` + text write — byte-identical output, same
Jackson generator, minus one projection), which reproduces
``'\\n'.join(...)`` with absent-key semantics for nulls
(``ignoreNullFields`` default true).

Scale: a landing *directory* of NDJSON files is one distributed scan
(each file ≥1 task, big files split on line boundaries); schema is
curated (transforms/schemas.py) so reads never pay inference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


INPUT_FILE_COL = "_input_file"


def read_ndjson(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType | None = None,
    with_input_file: bool = False,
) -> DataFrame:
    """Read NDJSON file(s)/directory into a DataFrame.

    With a curated ``schema``, missing fields are null (the
    reference's tolerant ``try/except KeyError`` behavior); without,
    Spark infers by sampling (dev only — SURVEY §1.2).

    ``with_input_file=True`` tags every row with the name of the file
    it came from, as ``INPUT_FILE_COL``. The tag is the file source's
    hidden ``_metadata.file_name`` column, decoded: the source reports
    the URI-escaped name (``a b`` as ``a%20b``), and a literal ``+``
    is protected first so the form decoder cannot read it as a space.
    The decoded tag equals ``os.path.basename`` of the file path.
    Names are only unique within one directory.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    if with_input_file:
        escaped = F.replace(F.col("_metadata.file_name"), F.lit("+"), F.lit("%2B"))
        df = df.withColumn(INPUT_FILE_COL, F.url_decode(escaped))
    return df


def write_ndjson(
    df: DataFrame, path: str, mode: str = "overwrite", single_file: bool = False
) -> str:
    """Write a DataFrame as NDJSON (one JSON object per line).

    The JSON writer omits null fields (``ignoreNullFields`` default),
    matching the reference's output of plain ``json.dumps`` on dicts
    that never contained those keys.

    ``single_file=True`` produces exactly one NDJSON *file* at
    ``path`` (coalesce(1) + part-file promotion) — the shape a FHIR
    ``$import`` url must point at (one blob per manifest entry,
    ``__init__.py:351-355``). The write is one task; to write many
    such files in parallel, use ``write_ndjson_per_file``.
    Returns the written path.
    """
    # Native JSON writer, not to_json(struct(*))+text: the rows hit the
    # same Jackson generator (null fields omitted either way — measured
    # byte-identical on the full EOB bench corpus) but skip the extra
    # serialize-to-one-string-column projection; ~7% faster on the
    # 100k-record write leg and one less node in the plan.
    if not single_file:
        df.write.mode(mode).json(path)
        return path
    import shutil

    # honor mode semantics on the destination FILE (the temp dir write
    # below is always overwrite — it's scratch space)
    exists = os.path.exists(path)
    if exists and mode in ("error", "errorifexists"):
        raise FileExistsError(path)
    if exists and mode == "ignore":
        return path
    tmp = path + ".__tmp__"
    df.coalesce(1).write.mode("overwrite").json(tmp)
    part = next(n for n in sorted(os.listdir(tmp)) if n.startswith("part-"))
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    if exists and mode == "append":
        with open(path, "ab") as dst, open(os.path.join(tmp, part), "rb") as src:
            dst.write(src.read())
    else:
        os.replace(os.path.join(tmp, part), path)
    shutil.rmtree(tmp)
    return path


def write_ndjson_per_file(df: DataFrame, outputs: dict[str, str]) -> None:
    """Write a frame tagged by ``read_ndjson(with_input_file=True)`` as
    one NDJSON file per source file, in a single Spark job.

    ``outputs`` maps each source file name (the tag value) to its
    destination file. The frame is written once with ``partitionBy``
    on the tag, which also drops the tag from the written rows. Then
    each file's part files are promoted (one part) or concatenated in
    task order (several) into its destination. A file with no rows has
    no partition directory and gets an empty destination file, so
    every source file still maps to one blob.
    """
    import shutil
    from urllib.parse import unquote

    if not outputs:
        return
    tmp = next(iter(outputs.values())) + ".__tmp__"
    df.write.mode("overwrite").partitionBy(INPUT_FILE_COL).json(tmp)
    prefix = INPUT_FILE_COL + "="
    # partition directory names are Hive-escaped tag values
    parts = {
        unquote(d[len(prefix):]): os.path.join(tmp, d)
        for d in os.listdir(tmp)
        if d.startswith(prefix)
    }
    for name, dst in outputs.items():
        os.makedirs(os.path.dirname(os.path.abspath(dst)), exist_ok=True)
        src_dir = parts.get(name)
        files = (
            sorted(n for n in os.listdir(src_dir) if n.startswith("part-"))
            if src_dir
            else []
        )
        if len(files) == 1:
            os.replace(os.path.join(src_dir, files[0]), dst)
            continue
        with open(dst, "wb") as out:
            for n in files:
                with open(os.path.join(src_dir, n), "rb") as src:
                    shutil.copyfileobj(src, out)
    shutil.rmtree(tmp)


def resource_type_from_name(blob_name: str) -> str:
    """Blob-name convention: resource type is the text before the
    first '-' (``FetchBulkData/__init__.py:218`` — T19)."""
    return os.path.basename(blob_name).split("-")[0]
