"""Publish-side sinks (SURVEY.md §2.1 S7/S8/S11/S12).

File sinks are engine-native (`df.write`); the REST/blob publishers
are driver-side adapters over *collected* layer frames — every upload
frame in the reference is municipality-sized (~1,650 rows,
forecast_process.py:1160-1233), so collect-then-POST is the right
shape; a `foreachPartition` HTTP push only makes sense if a layer ever
becomes fact-sized.

The HTTP client reproduces dynamicDataDb.py's contract with stdlib
urllib (no extra dependency to gate):

- ``user/login`` form POST → ``resp["user"]["token"]``
  (dynamicDataDb.py:295-299 apiAuthenticate)
- bearer + JSON headers on every data POST (:258-273)
- connect-retry ×3 with 0.5 backoff factor (:275-277, the
  urllib3.Retry(connect=3, backoff_factor=0.5) twin)
- status ≥ 400 → ValueError("PIPELINE ERROR") (:289-292)
- per-indicator read timeouts are tolerated and logged, matching the
  reference's except-ReadTimeout-pass loops (:72-124)
"""

from __future__ import annotations

import json
import logging
import shutil
import socket
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Iterable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)

# the reference posts these indicator layers per event
# (dynamicDataDb.py:72: uploadTyphoonData)
EXPOSURE_INDICATORS = (
    "windspeed",
    "rainfall",
    "prob_within_50km",
    "houses_affected",
    "affected_population",
    "show_admin_area",
    "forecast_severity",
    "forecast_trigger",
)
# the no-event path uploads only these, as null_{indicator} documents
# (dynamicDataDb.py:111: uploadTyphoonData_no_event)
NO_EVENT_INDICATORS = (
    "affected_population",
    "houses_affected",
    "forecast_severity",
    "forecast_trigger",
)
# the canned trigger scenario the mock-event replay posts: the
# (dynamicIndicator, body_json) rows of pipeline_publish on the
# generated storm (write_trigger_scenario regenerates it)
TRIGGER_SCENARIO = (
    Path(__file__).resolve().parent.parent / "data" / "mock" / "trigger_scenario.json"
)


def write_exposure_json(df: DataFrame, path: str) -> None:
    """S11 — per-indicator JSON documents (the F19 nested-doc frames)."""
    df.write.mode("overwrite").json(path)


def write_layer_csv(df: DataFrame, path: str) -> None:
    """S11 — windfield/track/trigger CSVs (forecast_process.py:1640,
    836, 1349-1355). coalesce(1) mirrors the reference's single-file
    outputs; drop it for fact-sized layers."""
    df.coalesce(1).write.mode("overwrite").csv(path, header=True)


@dataclass
class IbfApiClient:
    """S8 — the IBF-portal REST contract (dynamicDataDb.py:234-299).

    Stateless per call like the reference: every POST re-authenticates
    (apiPostRequest calls apiAuthenticate each time)."""

    base_url: str
    email: str
    password: str
    connect_retries: int = 3
    backoff_factor: float = 0.5
    timeout: float = 300.0

    def _request(self, req: urllib.request.Request) -> bytes:
        """urllib twin of urllib3.Retry(connect=3, backoff_factor=0.5):
        retry ONLY connection-phase failures (refused/reset/DNS), back
        off 0.5·2^n, and surface HTTP ≥400 as the reference's
        ValueError. Read timeouts propagate immediately as
        TimeoutError — resending a POST the server may already have
        processed would duplicate a non-idempotent exposure upload;
        the caller's skip-and-log loop handles them (the reference's
        except-ReadTimeout-pass, dynamicDataDb.py:72-124)."""
        attempt = 0
        while True:
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as r:
                    return r.read()
            except urllib.error.HTTPError as exc:
                if exc.code >= 400:
                    logger.error("PIPELINE ERROR")
                    raise ValueError() from exc
                raise
            except TimeoutError:
                # raw socket.timeout from the response-body read: the
                # request already went out — never resend
                raise
            except urllib.error.URLError as exc:
                reason = exc.reason
                if isinstance(reason, TimeoutError):
                    # timeout after the request was sent (urllib wraps
                    # it); normalize so callers catch TimeoutError
                    raise TimeoutError(str(reason)) from exc
                if not isinstance(reason, (ConnectionError, socket.gaierror)):
                    raise
                attempt += 1
                if attempt > self.connect_retries:
                    raise
                delay = self.backoff_factor * (2 ** (attempt - 1))
                logger.info("connect retry %d in %.1fs: %s", attempt, delay, exc)
                time.sleep(delay)

    def authenticate(self) -> str:
        data = urllib.parse.urlencode(
            [("email", self.email), ("password", self.password)]
        ).encode()
        req = urllib.request.Request(
            self.base_url + "user/login", data=data, method="POST"
        )
        return json.loads(self._request(req))["user"]["token"]

    def post(self, path: str, body: dict) -> None:
        token = self.authenticate()
        req = urllib.request.Request(
            self.base_url + path,
            data=json.dumps(body).encode(),
            headers={
                "Authorization": "Bearer " + token,
                "Content-Type": "application/json",
                "Accept": "application/json",
            },
            method="POST",
        )
        self._request(req)

    def get(self, path: str) -> dict:
        token = self.authenticate()
        req = urllib.request.Request(
            self.base_url + path,
            headers={"Authorization": "Bearer " + token},
        )
        return json.loads(self._request(req))


def publish_exposure_frames(
    payloads: Iterable,
    client: IbfApiClient,
    upload_time: str,
    lead_time: str | None = None,
) -> list[str]:
    """Post each assembled exposure document (one row per indicator,
    fields dynamicIndicator + body_json — the pipeline_publish plan's
    collected rows, or the canned scenario's) to
    admin-area-dynamic-data/exposure, stamping the upload date the
    way uploadTyphoonData does (dynamicDataDb.py:72-84). Every body is
    parsed before the first POST: a NULL or unparsable body, or one
    without an exposurePlaceCodes list, raises ValueError naming the
    indicator and nothing is posted. Read timeouts skip the indicator
    and continue (reference behavior). Returns the indicators actually
    posted."""
    bodies = []
    for row in payloads:
        layer = row["dynamicIndicator"]
        try:
            body = json.loads(row["body_json"])
        except (TypeError, ValueError) as exc:
            raise ValueError(f"malformed body for indicator {layer}") from exc
        if not isinstance(body, dict) or not isinstance(
            body.get("exposurePlaceCodes"), list
        ):
            raise ValueError(f"no exposurePlaceCodes list for indicator {layer}")
        bodies.append((layer, body))
    posted: list[str] = []
    for layer, body in bodies:
        body["date"] = upload_time
        if lead_time is not None:  # the after-landfall override (:85-97)
            body["leadTime"] = lead_time
        try:
            client.post("admin-area-dynamic-data/exposure", body)
        except TimeoutError:
            logger.info("time out during Uploading data for indicator: %s", layer)
            continue
        posted.append(layer)
    return posted


def process_events(
    client: IbfApiClient,
    upload_time: str,
    country: str = "PHL",
    notify_email: bool = True,
) -> None:
    """The close-out call after all layers land (dynamicDataDb.py:
    53-66): events/process, with notifications opt-out as query arg."""
    path = "events/process" if notify_email else "events/process?noNotifications=true"
    client.post(
        path,
        {
            "countryCodeISO3": country,
            "disasterType": "typhoon",
            "date": upload_time,
        },
    )


def upload_to_blob(
    local_path: str,
    container: str,
    blob_name: str,
    account_url: str | None = None,
    credential: str | None = None,
    local_root: str | None = None,
) -> str:
    """S7 — data-lake upload (dynamicDataDb.py:301-418). With an
    account URL and the Azure SDK present, uploads via
    BlobServiceClient; otherwise lands the file under
    ``local_root/container/blob_name`` — the same put contract against
    a filesystem container, which is also what the tests drive.
    Returns the destination URI/path."""
    if account_url is not None:
        try:
            from azure.storage.blob import BlobServiceClient
        except ImportError as exc:
            raise NotImplementedError(
                "blob SDK not available in this container; pass "
                "local_root= for the filesystem adapter"
            ) from exc
        svc = BlobServiceClient(account_url=account_url, credential=credential)
        blob = svc.get_blob_client(container=container, blob=blob_name)
        with open(local_path, "rb") as f:
            blob.upload_blob(f, overwrite=True)
        return f"{account_url}/{container}/{blob_name}"
    if local_root is None:
        raise ValueError("either account_url or local_root is required")
    dest = Path(local_root) / container / blob_name
    dest.parent.mkdir(parents=True, exist_ok=True)
    shutil.copyfile(local_path, dest)
    return str(dest)


def mock_scenario(trigger: bool = True) -> list[dict]:
    """The canned S12 scenario (settings.py:48-53): the trigger
    scenario is TRIGGER_SCENARIO as committed; the non-trigger one
    keeps the no-event indicators with empty exposurePlaceCodes and a
    null eventName (uploadTyphoonData_no_event)."""
    rows = json.loads(TRIGGER_SCENARIO.read_text())
    if trigger:
        return rows
    out = []
    for row in rows:
        if row["dynamicIndicator"] in NO_EVENT_INDICATORS:
            body = json.loads(row["body_json"])
            body["exposurePlaceCodes"] = []
            body["eventName"] = None
            out.append({**row, "body_json": json.dumps(body)})
    return out


def write_trigger_scenario(spark) -> None:
    """Regenerate TRIGGER_SCENARIO: the publish payloads of the forecast
    chain on the generated storm (the pipeline_publish entry)."""
    from ibf_typhoon_data_pipeline_spark.pipeline import publish_payloads
    from ibf_typhoon_data_pipeline_spark.plans.typhoon import _damage

    rows = [r.asDict() for r in publish_payloads(_damage(spark)).collect()]
    TRIGGER_SCENARIO.write_text(json.dumps(rows, indent=1) + "\n")


def replay_mock_event(
    spark,
    sf_dir: str,
    client: IbfApiClient,
    upload_time: str,
    trigger: bool = True,
) -> list[str]:
    """S12 — the mock-event replay (pipeline.py:81-91, settings.py:
    48-51): instead of running a forecast, push the canned scenario
    (``mock_scenario``) through the real publish path, then
    events/process closes out. Runs no Spark job; ``spark`` and
    ``sf_dir`` are not read."""
    posted = publish_exposure_frames(mock_scenario(trigger), client, upload_time)
    process_events(client, upload_time)
    return posted
