"""End-to-end pipeline test (SURVEY §3.1): two incremental runs
through the full export → transform → import → archive flow with a
fake server; the second run carries the advanced ``_since`` cursor."""

from __future__ import annotations

import json
import os

from capgemini_himss24_fhirbulkdata_demo_spark.connectors import (
    FhirBulkConnector,
    HttpResponse,
)
from capgemini_himss24_fhirbulkdata_demo_spark.connectors.state import HighWaterMark
from capgemini_himss24_fhirbulkdata_demo_spark.pipeline import run_bulk_import
from capgemini_himss24_fhirbulkdata_demo_spark.transforms.schemas import (
    RXNAV_LOOKUP_SCHEMA,
)

from . import fhir_oracle

PATIENTS = [
    {"resourceType": "Patient", "id": "egqBHVfQlt4Bw3XGXoxVxHg3",
     "identifier": [{"system": "old", "value": "X"}]},
    {"resourceType": "Patient", "id": "p2", "gender": "female"},
]
CONDITIONS = [
    {"resourceType": "Condition", "id": "c1",
     "code": {"coding": [{"system": "s", "code": "old"}], "text": "t"},
     "recordedDate": "1990-01-01"},
]


class FakeServer:
    """Bulk export + import endpoints over in-memory NDJSON files:
    ``files`` lists (resource type, records) in manifest order."""

    def __init__(self, files=None):
        self.files = files or [("Patient", PATIENTS), ("Condition", CONDITIONS)]
        self.kickoff_urls: list[str] = []
        self.import_bodies: list[dict] = []

    def __call__(self, method, url, headers=None, data=None, params=None):
        if "$export" in url:
            self.kickoff_urls.append(url)
            return HttpResponse(202, headers={"Content-Location": "https://s/st"})
        if url == "https://s/st":
            return HttpResponse(200, content=json.dumps(
                {"output": [
                    {"type": t, "url": f"https://s/f/{i}"}
                    for i, (t, _) in enumerate(self.files)
                ]}).encode())
        if url.startswith("https://s/f/"):
            _, recs = self.files[int(url.rsplit("/", 1)[1])]
            return HttpResponse(200, content="\n".join(json.dumps(r) for r in recs).encode())
        if url.endswith("/$import"):
            self.import_bodies.append(json.loads(data))
            return HttpResponse(202, headers={"Content-Location": "https://cg/st"})
        if url == "https://cg/st":
            return HttpResponse(200, content=b"{}")
        raise AssertionError(url)


def _read_out(out_path):
    """Read one $import-ready NDJSON blob."""
    with open(out_path) as f:
        return [json.loads(line) for line in f if line.strip()]


def test_two_incremental_runs(spark, tmp_path):
    server = FakeServer()
    conn = FhirBulkConnector(transport=server, sleep=lambda s: None)
    state = HighWaterMark(str(tmp_path / "state.json"))
    rx = spark.createDataFrame([("1", "n", "r")], RXNAV_LOOKUP_SCHEMA)

    res1 = run_bulk_import(
        spark, conn, "https://fhir.epic.example", "g1", "tok",
        "https://cg", "itok", str(tmp_path / "run1"), rxnav=rx, state=state,
    )
    # first kickoff has no _since
    assert "_since" not in server.kickoff_urls[0]
    assert len(res1.landed) == 2 and len(res1.archived) == 2
    assert res1.since_advanced_to is not None

    # transforms applied per resource type
    pat_out = next(v for k, v in res1.transformed.items() if "Patient" in k)
    pats = {r["id"]: r for r in _read_out(pat_out)}
    assert pats["egqBHVfQlt4Bw3XGXoxVxHg3"]["identifier"][0]["value"] == "1S00E00AA27"
    assert pats["p2"] == PATIENTS[1]
    cond_out = next(v for k, v in res1.transformed.items() if "Condition" in k)
    conds = _read_out(cond_out)
    assert conds[0]["recordedDate"] == "2019-09-04T11:10:27.000Z"
    assert conds[0]["code"]["coding"][0]["code"] == "E11.59"

    # import manifest listed both files with types parsed from names
    types = [p["part"][0]["valueString"]
             for p in server.import_bodies[0]["parameter"] if p["name"] == "input"]
    assert sorted(types) == ["Condition", "Patient"]

    # second run: kickoff carries the persisted cursor
    run_bulk_import(
        spark, conn, "https://fhir.epic.example", "g1", "tok",
        "https://cg", "itok", str(tmp_path / "run2"), rxnav=rx, state=state,
    )
    assert f"_since={res1.since_advanced_to}" in server.kickoff_urls[1]


def test_failed_file_download_stops_the_run_before_import(spark, tmp_path):
    """An export file answering 404 is not landed and $imported as
    NDJSON: the run raises, archives nothing and keeps the cursor."""
    import pytest

    server = FakeServer()

    def transport(method, url, **kw):
        if url == "https://s/f/1":
            return HttpResponse(404, content=b"not found")
        return server(method, url, **kw)

    conn = FhirBulkConnector(transport=transport, sleep=lambda s: None)
    state = HighWaterMark(str(tmp_path / "state.json"))
    state.advance("https://fhir.epic.example", "g1", "2024-01-01T00:00:00+00:00")
    with pytest.raises(RuntimeError, match="404"):
        run_bulk_import(spark, conn, "https://fhir.epic.example", "g1", "tok",
                        "https://cg", "itok", str(tmp_path / "run"), state=state)
    assert server.import_bodies == []
    assert [p.name.split("-")[0] for p in (tmp_path / "run" / "landing").iterdir()] == ["Patient"]
    assert not (tmp_path / "run" / "archive").exists()
    assert state.get("https://fhir.epic.example", "g1") == "2024-01-01T00:00:00+00:00"


def test_high_water_mark_atomic(tmp_path):
    hwm = HighWaterMark(str(tmp_path / "s.json"))
    assert hwm.get("srv", "g") is None
    hwm.advance("srv", "g", "2024-01-01T00:00:00")
    hwm.advance("srv2", "g", "2024-02-02T00:00:00")
    assert hwm.get("srv", "g") == "2024-01-01T00:00:00"
    assert hwm.get("srv2", "g") == "2024-02-02T00:00:00"


def test_reset_and_seed(tmp_path):
    from capgemini_himss24_fhirbulkdata_demo_spark.pipeline import (
        restamp_seed_name,
        run_reset_and_seed,
    )

    assert restamp_seed_name("Patient-abc-1699999999.json", 42) == "Patient-abc-42.json"
    assert restamp_seed_name("Condition-7-8.json", 5) == "Condition-5-5.json"

    calls = []

    def transport(method, url, headers=None, data=None, params=None):
        calls.append((method, url))
        if "$bulk-delete" in url:
            assert params == {"_hardDelete": "True"}
            return HttpResponse(202, headers={"Content-Location": "https://cg/del"})
        if url == "https://cg/del":
            return HttpResponse(200, content=b"{}")
        if url.endswith("/$import"):
            return HttpResponse(202, headers={"Content-Location": "https://cg/imp"})
        if url == "https://cg/imp":
            return HttpResponse(200, content=b"{}")
        raise AssertionError(url)

    seed = tmp_path / "seed"
    seed.mkdir()
    (seed / "Patient-client-1000.json").write_text('{"resourceType":"Patient","id":"s1"}')
    (seed / "Condition-client-1000.json").write_text('{"resourceType":"Condition","id":"s2"}')

    conn = FhirBulkConnector(transport=transport, sleep=lambda s: None)
    out = run_reset_and_seed(
        conn, "https://cg", "tok", str(seed), str(tmp_path / "work"), timestamp=777
    )
    names = sorted(os.path.basename(p) for p in out["seeded"])
    assert names == ["Condition-client-777.json", "Patient-client-777.json"]
    assert ("DELETE", "https://cg/$bulk-delete") in calls


def test_transformed_outputs_are_single_ndjson_files(spark, tmp_path):
    """$import urls must point at one NDJSON blob each, not a Spark
    part-file directory."""
    server = FakeServer()
    conn = FhirBulkConnector(transport=server, sleep=lambda s: None)
    rx = spark.createDataFrame([("1", "n", "r")], RXNAV_LOOKUP_SCHEMA)
    res = run_bulk_import(
        spark, conn, "https://fhir.epic.example", "g1", "tok",
        "https://cg", "itok", str(tmp_path / "run"), rxnav=rx,
    )
    for out in res.transformed.values():
        assert os.path.isfile(out), out
        assert out.endswith(".ndjson")
    # the manifest's valueUris reference those single files
    uris = [p["part"][1]["valueUri"]
            for p in server.import_bodies[-1]["parameter"] if p["name"] == "input"]
    assert all(u.endswith(".ndjson") for u in uris)


def test_compact_landing_dir(spark, tmp_path):
    """Many small NDJSON export files -> compacted files per resource
    type, lines preserved BYTE-EXACTLY (fields outside any curated
    schema and even malformed lines must survive — compaction never
    parses)."""
    import json as _json

    from capgemini_himss24_fhirbulkdata_demo_spark.pipeline import compact_landing_dir

    src = tmp_path / "landing"
    src.mkdir()
    lines = []
    for i in range(6):
        recs = [
            {
                "resourceType": "Patient",
                "id": f"p{i}-{j}",
                "gender": "other",
                # field no curated schema knows about
                "address": [{"city": "Boston"}],
            }
            for j in range(3)
        ]
        txt = [_json.dumps(r) for r in recs]
        lines += txt
        (src / f"Patient-{i}.ndjson").write_text("\n".join(txt) + "\n")
    # unknown resource type and a malformed (truncated) line: both
    # must pass through unmodified
    (src / "Mystery-1.ndjson").write_text('{"resourceType": "Mystery", "x": 1\n')
    out = tmp_path / "compacted"
    result = compact_landing_dir(spark, str(src), str(out), target_file_bytes=10**9)
    assert result == {"Mystery": 1, "Patient": 1}
    files = [f for f in (out / "Patient").iterdir() if f.name.startswith("part-")]
    assert len(files) == 1
    back = sorted(r.value for r in spark.read.text(str(out / "Patient")).collect())
    assert back == sorted(lines)  # byte-exact, address field intact
    myst = [r.value for r in spark.read.text(str(out / "Mystery")).collect()]
    assert myst == ['{"resourceType": "Mystery", "x": 1']


def test_eob_bench_landing_dir_matches_single_file(tmp_path):
    """The 64-file bench landing dir carries exactly the records the
    single-file writer produces — same count, same content, contiguous
    blocks per file — so the v5 bench input change alters file layout
    only, never the measured workload."""
    import json

    from capgemini_himss24_fhirbulkdata_demo_spark.transforms.benchdata import (
        write_eob_ndjson,
        write_eob_ndjson_dir,
    )

    n = 1_000
    single = write_eob_ndjson(str(tmp_path / "one.ndjson"), n)
    land = write_eob_ndjson_dir(str(tmp_path / "landing"), n, n_files=7)
    files = sorted(
        f for f in os.listdir(land) if f.endswith(".ndjson")
    )
    assert len(files) == 7
    multi_lines = []
    for f in files:
        with open(os.path.join(land, f)) as fh:
            multi_lines.extend(fh.read().splitlines())
    single_lines = open(single).read().splitlines()
    # contiguous blocks in file order == the single-file order exactly
    assert multi_lines == single_lines
    assert len(multi_lines) == n
    # spot-check the content is real EOB JSON
    assert json.loads(multi_lines[0])["resourceType"] == "ExplanationOfBenefit"


# ------------------------------------------ one transform job per type

BCDA = "https://bcda.example"


def _eob(i: int, eob_id: str | None = None) -> dict:
    from capgemini_himss24_fhirbulkdata_demo_spark.transforms.benchdata import make_eob

    r = make_eob(i)
    if eob_id is not None:
        r["id"] = eob_id
    return r


def _bench_rxnav(spark):
    from capgemini_himss24_fhirbulkdata_demo_spark.transforms.benchdata import RXNAV_BENCH

    return spark.createDataFrame(
        [(k, v["name"], v["rxnorm"]) for k, v in sorted(RXNAV_BENCH.items())],
        RXNAV_LOOKUP_SCHEMA,
    )


def _run(spark, tmp_path, files, server_url=BCDA, client_id="client"):
    server = FakeServer(files)
    conn = FhirBulkConnector(transport=server, sleep=lambda s: None)
    res = run_bulk_import(
        spark, conn, server_url, "g1", "tok", "https://cg", "itok",
        str(tmp_path / "run"), rxnav=_bench_rxnav(spark), client_id=client_id,
    )
    return res, server


def _by_id(resources):
    return {r["id"]: json.loads(json.dumps(r, sort_keys=True)) for r in resources}


def _expected(server_url, rtype, records):
    from capgemini_himss24_fhirbulkdata_demo_spark.transforms.benchdata import RXNAV_BENCH

    return _by_id(fhir_oracle.process(server_url, rtype, records, RXNAV_BENCH))


def _manifest_urls(server):
    return [part["valueUri"]
            for p in server.import_bodies[-1]["parameter"] if p["name"] == "input"
            for part in p["part"] if part["name"] == "url"]


def test_removed_ids_stay_scoped_to_their_landed_file(spark, tmp_path):
    """The reference builds its removed-ids list per file: an id that
    fails the gates in file A must not remove its passing twin in file
    B, although both files now transform in one job."""
    fails, passes = _eob(0, "dup"), _eob(5, "dup")  # 0: patient gate fails
    assert _expected(BCDA, "ExplanationOfBenefit", [fails]) == {}
    file_a = [fails, _eob(14)]
    file_b = [passes, _eob(21)]
    res, _ = _run(spark, tmp_path, [
        ("ExplanationOfBenefit", file_a), ("ExplanationOfBenefit", file_b)])
    a, b = res.landed
    assert _by_id(_read_out(res.transformed[a])) == _expected(
        BCDA, "ExplanationOfBenefit", file_a)
    assert "dup" not in _by_id(_read_out(res.transformed[a]))
    assert _by_id(_read_out(res.transformed[b])) == _expected(
        BCDA, "ExplanationOfBenefit", file_b)
    assert "dup" in _by_id(_read_out(res.transformed[b]))
    assert res.counts == {a: (2, 1), b: (2, 2)}


def test_file_with_no_survivors_still_imports_an_empty_blob(spark, tmp_path):
    all_fail = [_eob(i) for i in (0, 1, 2, 8)]  # patient, claim, date, patient
    keep = [_eob(i) for i in (5, 6)]
    res, server = _run(spark, tmp_path, [
        ("ExplanationOfBenefit", all_fail), ("ExplanationOfBenefit", keep)])
    empty, full = res.landed
    assert os.path.isfile(res.transformed[empty])
    assert os.path.getsize(res.transformed[empty]) == 0
    assert res.counts == {empty: (4, 0), full: (2, 2)}
    assert sorted(_manifest_urls(server)) == sorted(
        f"file://{res.transformed[p]}" for p in res.landed)


def test_escaped_client_id_maps_each_file_to_its_own_output(spark, tmp_path):
    """Landed names carry the client id; characters that Hive-style
    partition directories escape must not break the file mapping."""
    pats = [dict(PATIENTS[1], id=f"p{i}") for i in range(3)]
    files = [("Patient", pats[:1]), ("Patient", pats[1:]), ("Condition", CONDITIONS)]
    res, server = _run(spark, tmp_path, files, "https://fhir.epic.example", "a b%c=d+e")
    assert all("a b%c=d+e" in os.path.basename(p) for p in res.landed)
    outs = [res.transformed[p] for p in res.landed]
    assert len(set(outs)) == 3
    for (rtype, recs), out in zip(files, outs):
        assert _by_id(_read_out(out)) == _expected(
            "https://fhir.epic.example", rtype, recs)
    assert res.counts == dict(zip(res.landed, [(1, 1), (2, 2), (1, 1)]))
    assert sorted(_manifest_urls(server)) == sorted(f"file://{o}" for o in outs)


def test_file_split_across_scan_tasks_lands_whole(spark, tmp_path):
    from capgemini_himss24_fhirbulkdata_demo_spark.sources import read_ndjson

    recs = [_eob(i) for i in range(400)]
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "16384")
    try:
        res, _ = _run(spark, tmp_path, [("ExplanationOfBenefit", recs)])
        (landed,) = res.archived
        assert read_ndjson(spark, landed).rdd.getNumPartitions() > 4
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    out = res.transformed[res.landed[0]]
    assert os.path.isfile(out)
    got = _read_out(out)
    want = _expected(BCDA, "ExplanationOfBenefit", recs)
    assert len(got) == len(want) and _by_id(got) == want
    assert res.counts == {res.landed[0]: (400, len(want))}


def test_landed_file_count_does_not_add_spark_jobs(spark, tmp_path):
    """One transform job per resource type: six landed files of one
    type submit no more Spark jobs than two do."""
    sc = spark.sparkContext

    def jobs(n_files):
        group = f"jobs-{n_files}-files"
        files = [("ExplanationOfBenefit", [_eob(5 + 8 * i), _eob(13 + 8 * i)])
                 for i in range(n_files)]
        sc.setJobGroup(group, group)
        try:
            _run(spark, tmp_path / group, files)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    two, six = jobs(2), jobs(6)
    assert two > 0
    assert six <= two, (two, six)
