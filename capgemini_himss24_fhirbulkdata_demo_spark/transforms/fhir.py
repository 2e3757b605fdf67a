"""FHIR per-record transforms, Spark-first (SURVEY §2A T2–T17).

Each transform re-expresses one branch of the reference's
``process_demo_data`` (``FetchBulkData/__init__.py:357-536``) as a
narrow DataFrame pipeline over higher-order functions — no Python
UDFs anywhere (SURVEY §4.3.3). The two relational escapes:

- RxNav enrichment (T13, ``__init__.py:504-522,538-543``): the
  reference does one synchronous HTTP GET *per record occurrence*;
  here the distinct-NDC lookup table is folded to a single broadcast
  MAP column and applied inside the array rewrite — zero Python in
  the hot path, one tiny cross-join of a 1-row build side.
- Removed-ids anti-join (T17, ``__init__.py:533``): the reference
  scans a Python *list* per record (O(N·R)); here a broadcast
  ``left_anti`` join on id — which also preserves the duplicate-id
  quirk (any row sharing an id with a removed row of the same landed
  file is dropped).

Fidelity notes (quirks preserved):
- claim_type is the *last* matching type.coding entry
  (``__init__.py:469-471`` loop overwrite) → ``element_at(filter(...), -1)``.
- serviced_date is the *last* item's servicedDate
  (``__init__.py:477-478``) and is compared *lexically* as an ISO
  string (``__init__.py:481``).
- RxNorm entries are appended after the original coding list in NDC
  order (append-during-iteration lands at the tail).
- Integer literals the reference writes (10, 30, 90, 0, 2) surface
  as JSON numbers; schema types follow FIXTURES.md §B.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.ndjson import INPUT_FILE_COL
from . import constants as C
from .schemas import (
    CONDITION_SCHEMA,
    EXPLANATION_OF_BENEFIT_SCHEMA,
    MEDICATION_REQUEST_SCHEMA,
    PATIENT_SCHEMA,
)


def _lit_json(value, dtype) -> Column:
    """A typed literal from a Python JSON value (schema-checked)."""
    return F.from_json(F.lit(json.dumps(value)), dtype)


def _field_type(schema, name: str):
    return schema[name].dataType


# ------------------------------------------------------------ Patient

def _patient_identifier_overwrite(df: DataFrame, demo_id: str, drop_meta: bool) -> DataFrame:
    """T3: point-update the demo patient's identifier (epic
    ``__init__.py:404-411``; cerner also deletes meta ``:441-449``)."""
    ident_t = _field_type(PATIENT_SCHEMA, "identifier")
    is_demo = F.col("id") == demo_id
    out = df.withColumn(
        "identifier",
        F.when(is_demo, _lit_json([C.DEMO_PATIENT_IDENTIFIER], ident_t)).otherwise(
            F.col("identifier")
        ),
    )
    if drop_meta:
        meta_t = _field_type(PATIENT_SCHEMA, "meta")
        out = out.withColumn(
            "meta", F.when(is_demo, F.lit(None).cast(meta_t)).otherwise(F.col("meta"))
        )
    return out


def epic_patient(df: DataFrame, rxnav: DataFrame | None = None) -> DataFrame:
    return _patient_identifier_overwrite(df, C.EPIC_DEMO_PATIENT_ID, drop_meta=False)


def cerner_patient(df: DataFrame, rxnav: DataFrame | None = None) -> DataFrame:
    return _patient_identifier_overwrite(df, C.CERNER_DEMO_PATIENT_ID, drop_meta=True)


# ---------------------------------------------------------- Condition

def epic_condition(df: DataFrame, rxnav: DataFrame | None = None) -> DataFrame:
    """T4: overwrite ``code`` + ``recordedDate`` on every row
    (``__init__.py:412-419``)."""
    code_t = _field_type(CONDITION_SCHEMA, "code")
    return df.withColumn("code", _lit_json(C.DEMO_CONDITION_CODE, code_t)).withColumn(
        "recordedDate", F.lit(C.DEMO_CONDITION_RECORDED_DATE)
    )


# -------------------------------------------------- MedicationRequest

def epic_medication_request(df: DataFrame, rxnav: DataFrame | None = None) -> DataFrame:
    """T5 (field removal) + T4 (overwrite) + T6 (nested struct writes)
    (``__init__.py:420-437``)."""
    mcc_t = _field_type(MEDICATION_REQUEST_SCHEMA, "medicationCodeableConcept")
    out = df
    if "medicationReference" in out.columns:
        out = out.drop("medicationReference")  # tolerant del (:425-428)
    return (
        out.withColumn(
            "medicationCodeableConcept",
            _lit_json(C.DEMO_MEDICATION_CODEABLECONCEPT, mcc_t),
        )
        .withColumn("authoredOn", F.lit(C.EPIC_MEDREQ_AUTHORED_ON))
        .withColumn(
            "dispenseRequest",
            F.col("dispenseRequest")
            .withField("validityPeriod.start", F.lit(C.VALIDITY_PERIOD_START))
            .withField("validityPeriod.end", F.lit(C.VALIDITY_PERIOD_END))
            .withField("numberOfRepeatsAllowed", F.lit(2).cast("long"))
            .withField("quantity.value", F.lit(10.0))
            .withField("quantity.unit", F.lit("ml"))
            .withField("quantity.system", F.lit("http://unitsofmeasure.org"))
            .withField("quantity.code", F.lit("ml")),
        )
    )


def cerner_medication_request(df: DataFrame, rxnav: DataFrame | None = None) -> DataFrame:
    """T6 subset for cerner (``__init__.py:450-456``)."""
    return df.withColumn("authoredOn", F.lit(C.CERNER_MEDREQ_AUTHORED_ON)).withColumn(
        "dispenseRequest",
        F.col("dispenseRequest")
        .withField("validityPeriod.start", F.lit(C.VALIDITY_PERIOD_START))
        .withField("validityPeriod.end", F.lit(C.VALIDITY_PERIOD_END)),
    )


# ----------------------------------------------- ExplanationOfBenefit

def _rx_map_column(df: DataFrame, rxnav: DataFrame) -> DataFrame:
    """Fold the (ndc, name, rxnorm) lookup into one broadcast MAP
    column (T13's distinct-prefetch + broadcast-join rewrite,
    SURVEY §4.3.1)."""
    rx_map = rxnav.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("ndc"), F.struct("name", "rxnorm")))
        ).alias("_rx_map")
    )
    return df.crossJoin(F.broadcast(rx_map))


def bcda_explanation_of_benefit(df: DataFrame, rxnav: DataFrame) -> DataFrame:
    """T7–T17 (``__init__.py:458-533``): filters (patient, claim-type,
    serviced-date, enrichment-dependent), positional supportingInfo
    writes, special-id NDC rewrite, RxNorm display-fill + append,
    per-item quantity writes, meta delete, anti-join removal.
    """
    is_special = F.col("id") == C.BCDA_SPECIAL_EOB_ID

    # Special-id NDC code/display rewrite happens BEFORE lookup
    # (the lookup key is the rewritten code, ``__init__.py:498-505``).
    def rewrite_coding(c):
        return F.when(
            (c.system == C.NDC_SYSTEM) & is_special,
            c.withField("code", F.lit(C.SPECIAL_NDC_CODE)).withField(
                "display", F.lit(C.SPECIAL_NDC_DISPLAY)
            ),
        ).otherwise(c)

    df = df.withColumn(
        "item",
        F.transform(
            "item",
            lambda it: it.withField(
                "productOrService.coding",
                F.transform(it.productOrService.coding, rewrite_coding),
            ),
        ),
    )

    df = _rx_map_column(df, rxnav)
    rx_of = lambda c: F.element_at(F.col("_rx_map"), c.code)  # noqa: E731
    rxnorm_of = lambda c: F.coalesce(rx_of(c)["rxnorm"], F.lit(""))  # noqa: E731
    name_of = lambda c: F.coalesce(rx_of(c)["name"], F.lit(""))  # noqa: E731
    is_ndc = lambda c: c.system == C.NDC_SYSTEM  # noqa: E731

    # Gates — a row failing any gate lands on the removed-ids list
    # (``__init__.py:459-515``). Survivor predicate = conjunction.
    claim_type = F.element_at(
        F.filter(F.col("type.coding"), lambda c: c.system == C.CLAIM_TYPE_SYSTEM), -1
    )["code"]
    serviced_date = F.element_at(F.col("item"), -1)["servicedDate"]
    ndc_exists = lambda pred: F.coalesce(  # noqa: E731
        F.exists(
            "item",
            lambda it: F.coalesce(
                F.exists(it.productOrService.coding, pred), F.lit(False)
            ),
        ),
        F.lit(False),
    )
    fail_rxnorm = ndc_exists(lambda c: is_ndc(c) & (rxnorm_of(c) == ""))
    fail_name = ndc_exists(lambda c: is_ndc(c) & c.display.isNull() & (name_of(c) == ""))

    keep = (
        # coalesce: a null reference must land on the removed list
        # (reference: None != demo_ref -> removed), not vanish into
        # three-valued logic where ~NULL filters the row out of BOTH
        # the removed set and nothing else
        F.coalesce(
            F.col("patient.reference") == C.BCDA_DEMO_PATIENT_REF, F.lit(False)
        )
        & (F.coalesce(claim_type, F.lit("")) == "pharmacy")
        & (F.coalesce(serviced_date, F.lit("")) >= C.SERVICED_DATE_MIN)  # lexical ISO
        & ~fail_rxnorm
        & ~fail_name
    )

    # T17 anti-join (reference ``__init__.py``: removed-id exclusion).
    # A plain filter(keep) is NOT equivalent: the reference removes
    # every record sharing an id with ANY failing record (duplicate-id
    # fidelity). The anti-join side must NOT be hinted broadcast —
    # under the demo gates the removed set is nearly the whole corpus
    # (only one patient's pharmacy claims survive), so a forced
    # broadcast scales with the input and OOMs the driver at 100x.
    # Instead, reduce the join side to the only ids where filter(keep)
    # and the id-exclusion disagree: ids carrying BOTH a passing and a
    # failing row. The conflicted set is bounded by the duplicate-id
    # population, which AQE broadcasts unhinted for the final
    # anti-join.
    #
    # Formulation history (100k-record bench, noop sink): r5 chose a
    # kept-ids ⋉ failed-ids semi join (1.68 s) over an (id, keep)
    # groupBy (1.94 s) and the unsafe forced broadcast (1.32 s). r7
    # re-measured once it was clear SOURCE PARSES dominate this
    # pipeline: each semi-join side re-parsed the JSON source (the
    # keep predicate touches item/type/patient — most of the
    # document), so r5's winner paid THREE parses per run. The
    # groupBy over one skinny (id, keep) projection pays two — one
    # for the flags, one for the survivor branch, which must re-read
    # the full documents anyway because duplicate ids mean rows have
    # no unique join key — and now wins: 1.68 s vs 1.97 s (the same
    # ordering flip the partial-agg argument missed; an eager
    # localCheckpoint of the flags was also tried and LOST, 2.48 s,
    # because it serializes the two scans the one-job plan overlaps).
    # At cluster scale the same math holds: one (id,bool) shuffle
    # replaces two id-only shuffles plus a full extra source scan.
    #
    # The reference builds its removed-ids list per landed file
    # (``__init__.py:459-533``), so a frame tagged by ``tag_input_file``
    # keys the exclusion on (id, file): an id failing in one file must
    # not remove its passing twin from another. An untagged frame is
    # one load (bench.py's directory read) and keys on id alone.
    key = ["id"] + ([INPUT_FILE_COL] if INPUT_FILE_COL in df.columns else [])
    flags = df.select(*key, keep.alias("_keep"))
    conflicted_ids = (
        flags.groupBy(*key)
        .agg(F.min("_keep").alias("_all"), F.max("_keep").alias("_any"))
        .filter(F.col("_any") & ~F.col("_all"))
        .select(*key)
    )
    survivors = df.filter(keep).join(conflicted_ids, key, "left_anti")

    # Mutations (survivors always pass every gate, so unconditional).
    # T11: positional supportingInfo writes (``__init__.py:489-493``).
    survivors = survivors.withColumn(
        "supportingInfo",
        F.transform(
            "supportingInfo",
            lambda x, i: F.when(i == 0, x.withField("valueQuantity.value", F.lit(0.0)))
            .when(
                i == 1,
                x.withField(
                    "valueQuantity.value",
                    F.when(is_special, F.lit(30.0)).otherwise(F.lit(90.0)),
                ),
            )
            .otherwise(x),
        ),
    )

    # T12/T13/T15: display fill, RxNorm append, quantity writes.
    # Known quirk divergence: the reference gates on key ABSENCE
    # ('display' not in code.keys(), __init__.py:498), so a malformed
    # record carrying an explicit "display": null is left untouched
    # there but filled here — the struct schema collapses absent and
    # explicit-null (both read as NULL). Exact fidelity on such
    # records would need a presence boolean parsed at ingest; no
    # valid FHIR producer emits JSON nulls, so we accept the collapse.
    def fill_display(c):
        return F.when(
            is_ndc(c) & c.display.isNull(), c.withField("display", name_of(c))
        ).otherwise(c)

    def rxnorm_entry(c):
        return F.struct(
            F.lit(C.RXNORM_SYSTEM).alias("system"),
            rxnorm_of(c).alias("code"),
            name_of(c).alias("display"),
        )

    survivors = survivors.withColumn(
        "item",
        F.transform(
            "item",
            lambda it: it.withField(
                "productOrService.coding",
                F.concat(
                    F.transform(it.productOrService.coding, fill_display),
                    F.transform(
                        F.filter(it.productOrService.coding, is_ndc), rxnorm_entry
                    ),
                ),
            )
            .withField(
                "quantity.value", F.when(is_special, F.lit(10.0)).otherwise(F.lit(90.0))
            )
            .withField(
                "quantity.unit", F.when(is_special, F.lit("ml")).otherwise(F.lit("tabs"))
            ),
        ),
    )

    # T5: meta delete on kept rows (``__init__.py:487``).
    return survivors.drop("meta", "_rx_map")


# ------------------------------------------------------------ registry

TransformFn = Callable[[DataFrame, DataFrame | None], DataFrame]

TRANSFORMS: dict[tuple[str, str], TransformFn] = {
    ("epic", "Patient"): epic_patient,
    ("epic", "Condition"): epic_condition,
    ("epic", "MedicationRequest"): epic_medication_request,
    ("cerner", "Patient"): cerner_patient,
    ("cerner", "MedicationRequest"): cerner_medication_request,
    ("bcda", "ExplanationOfBenefit"): bcda_explanation_of_benefit,
}


def source_from_url(server_url: str) -> str | None:
    """T2 source dispatch: substring containment, as the reference
    does (``__init__.py:402,439,458``)."""
    for s in ("epic", "cerner", "bcda"):
        if s in server_url:
            return s
    return None


def get_transform(server_url: str, resource_name: str) -> TransformFn | None:
    """Resolve the (source, resource_type) transform; None = identity
    (resources the reference passes through untouched)."""
    src = source_from_url(server_url)
    if src is None:
        return None
    return TRANSFORMS.get((src, resource_name))
