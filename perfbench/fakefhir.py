"""In-process fake FHIR Bulk Data server for the ``fhir_bulk_import`` workload.

Passed to ``FhirBulkConnector`` as its injected ``transport``: answers
the ``$export`` kickoff, the status endpoint (202 with ``X-Progress``
for the first ``polls_before_ready`` polls, then 200 with the output
manifest), each NDJSON file download, and ``$import`` plus its status
endpoint. Each export job's manifest carries a later
``transactionTime``, so the pipeline's ``_since`` cursor has to move
on every run.
"""

from __future__ import annotations

import json
import threading
from datetime import datetime, timedelta, timezone

from capgemini_himss24_fhirbulkdata_demo_spark.connectors import HttpResponse

SERVER = "https://bcda.bench.example/api/v2"
IMPORT_SERVER = "https://fhir.bench.example"
_T0 = datetime(2024, 3, 1, tzinfo=timezone.utc)


class FakeBulkServer:
    def __init__(self, files: list[tuple[str, bytes]], polls_before_ready: int = 3):
        self.files = files
        self.polls_before_ready = polls_before_ready
        self.kickoff_urls: list[str] = []
        self.import_bodies: list[dict] = []
        self.export_polls = 0
        self._job = 0
        self._pending: dict[str, int] = {}
        self._lock = threading.Lock()

    def manifest(self, job: int) -> dict:
        return {
            "transactionTime": (_T0 + timedelta(minutes=job)).isoformat(),
            "request": f"{SERVER}/Group/g/$export",
            "requiresAccessToken": True,
            "output": [
                {"type": rtype, "url": f"{SERVER}/files/{i}"}
                for i, (rtype, _) in enumerate(self.files)
            ],
            "error": [],
        }

    def __call__(self, method, url, headers=None, data=None, params=None):
        with self._lock:
            if "/$export" in url:
                self.kickoff_urls.append(url)
                self._job += 1
                status = f"{SERVER}/jobs/{self._job}"
                self._pending[status] = self.polls_before_ready
                return HttpResponse(202, headers={"Content-Location": status})
            if url.endswith("/$import"):
                self.import_bodies.append(json.loads(data))
                status = f"{IMPORT_SERVER}/import/{len(self.import_bodies)}"
                self._pending[status] = 1
                return HttpResponse(202, headers={"Content-Location": status})
            if url in self._pending:
                if url.startswith(SERVER):
                    self.export_polls += 1
                left = self._pending[url]
                if left > 0:
                    self._pending[url] = left - 1
                    done = self.polls_before_ready - left
                    return HttpResponse(202, headers={"X-Progress": f"{done}/{self.polls_before_ready}"})
                del self._pending[url]
                if url.startswith(IMPORT_SERVER):
                    return HttpResponse(200, content=b"{}")
                job = int(url.rsplit("/", 1)[1])
                return HttpResponse(200, content=json.dumps(self.manifest(job)).encode())
        if "/files/" in url:
            return HttpResponse(200, content=self.files[int(url.rsplit("/", 1)[1])][1])
        return HttpResponse(404, content=url.encode())


class SleepRecorder:
    """Stands in for ``time.sleep``: records requested back-off, waits for none."""

    def __init__(self):
        self.calls: list[float] = []

    def __call__(self, seconds: float) -> None:
        self.calls.append(seconds)
