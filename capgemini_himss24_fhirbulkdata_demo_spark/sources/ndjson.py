"""NDJSON source/sink (SURVEY §2A S1/K1/T1/T18/T19).

The reference's wire format: one FHIR resource (JSON document) per
line, one file per resource type (``FetchBulkData/__init__.py:359``
decode/split/parse; ``:535`` re-join; ``:218`` type-from-filename).

Spark mapping (SURVEY §1.2): ``spark.read.json`` *is* T1 (decode,
line-split, per-line parse, null-on-missing) — distributed, spilling,
vectorized. The sink is the native ``df.write.json``, which reproduces
``'\\n'.join(...)`` with absent-key semantics for nulls
(``ignoreNullFields`` default true).

Scale: a landing *directory* of NDJSON files is one distributed scan
(each file ≥1 task, big files split on line boundaries); schema is
curated (transforms/schemas.py) so reads never pay inference.

Files stay the unit of import, as in the reference's manifest loop:
``tag_input_file`` tags batch or streaming rows with their source
file, and ``write_ndjson_per_file`` writes one blob per tagged file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


INPUT_FILE_COL = "_input_file"


def tag_input_file(df: DataFrame) -> DataFrame:
    """Tag each row of a file-source frame (batch or streaming) with
    its source file's base name, as ``INPUT_FILE_COL``: the hidden
    ``_metadata.file_name``, which the source URI-escapes (``a b`` as
    ``a%20b``), decoded with a literal ``+`` protected from the form
    decoder. Names are only unique within one directory.
    """
    escaped = F.replace(F.col("_metadata.file_name"), F.lit("+"), F.lit("%2B"))
    return df.withColumn(INPUT_FILE_COL, F.url_decode(escaped))


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

    ``with_input_file=True`` tags every row with its source file name
    (``tag_input_file``).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    return tag_input_file(df) if with_input_file else df


def write_ndjson(df: DataFrame, path: str, mode: str = "overwrite") -> str:
    """Write a DataFrame as an NDJSON part-file directory (one JSON
    object per line). Returns the written path.

    The JSON writer omits null fields (``ignoreNullFields`` default),
    matching the reference's output of plain ``json.dumps`` on dicts
    that never contained those keys. For the one-blob-per-file shape a
    FHIR ``$import`` url must point at, use ``write_ndjson_per_file``.
    """
    # Native JSON writer, not to_json(struct(*))+text: byte-identical
    # output (same Jackson generator) minus one projection, ~7% faster
    # on the 100k-record EOB write leg.
    df.write.mode(mode).json(path)
    return path


def write_ndjson_per_file(df: DataFrame, outputs: dict[str, str]) -> None:
    """Write a frame tagged by ``tag_input_file`` as one NDJSON file
    per source file in a single Spark job: the one blob per manifest
    entry a FHIR ``$import`` url must point at (``__init__.py:351-355``).

    ``outputs`` maps each tag value to its destination file. The frame
    is written once with ``partitionBy`` on the tag (which drops the
    tag from the rows); each file's part files are then promoted (one)
    or concatenated in task order (several) into its destination. A
    file with no rows gets an empty destination file.
    """
    import shutil
    from urllib.parse import unquote

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
