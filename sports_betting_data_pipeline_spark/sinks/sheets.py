"""Sheet-style append sink and batched side-effect sink.

Reference parity (SURVEY.md §2.2):
- K1 Google Sheets append (src/main.py:23-37): `values().append` at
  `{sheet}!A1` with RAW input — a header row then stringified data
  rows. Here: Spark's CSV writer renders every cell to its RAW string
  form (the reference's list-of-lists shape) and spools one CSV part
  per non-empty partition. The actual Sheets HTTP transport is a
  pluggable callable — the engine owns batching/formatting, not auth.
- K2/K3 single + batched wager POST (src/mm_calls.py:247-280): a
  ``foreachPartition`` sink that buffers rows into fixed-size batches
  (the reference batches 3 wagers per POST) and hands each batch to a
  transport callable. Executor-side, no driver collect.

Scale notes: both sinks work per partition on the executors —
per-partition files or connections, batched calls, no per-row round
trips (the reference's own batch POST is the hint). Sheet parts go
through Spark's commit protocol into a staging directory and are
renamed into the sheet only after the job commits, so a retried task
can neither leave half a file nor duplicate a part. The batched POST
is at-least-once, same as any side-effecting sink without an
idempotent endpoint.
"""

from __future__ import annotations

import csv
import itertools
import os
import shutil
import uuid
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, Row

from sports_betting_data_pipeline_spark.session import qname


def _raw(value: object) -> str:
    """RAW value rendering (K1: valueInputOption='RAW'): empty string
    for null — the reference's `.get(k, "")` defaulting."""
    return "" if value is None else str(value)


def _has_rows(part: str) -> bool:
    """Whether a CSV part holds a data row after its header. Spark
    writes partition 0 even when it is empty, as the header alone."""
    with open(part, newline="", encoding="utf-8") as fh:
        # NUL is no CSV delimiter; Python 3.10's csv.reader rejects it
        rows = csv.reader(line.replace("\0", "") for line in fh)
        return next(itertools.islice(rows, 1, None), None) is not None


def sheet_append(df: DataFrame, spool_dir: str, sheet: str) -> list[str]:
    """K1: append a DataFrame to a local "sheet" spool.

    Spark's CSV writer writes one part per non-empty partition under
    ``spool_dir/sheet/``, on the executors and with no Python worker.
    Every cell is RAW (K1: valueInputOption='RAW'): Spark's string cast
    of the value, null as "" (the reference's `.get(k, "")` defaulting).
    So booleans render as ``true``/``false``, doubles as Spark prints
    them (``1.0E10``) and timestamps as ``2024-03-10 02:30:05`` in the
    session time zone, as the flatten already renders Odds/Stake/Value.
    Cells holding a comma, quote, ``\n`` or ``\r`` are quoted, with
    embedded quotes doubled. Every part starts with the header row (the
    reference prepends it to every append, src/main.py:50-78 — we keep
    the header-first layout, but only in parts that carry rows).
    Returns the sorted part paths.
    """
    target = os.path.join(spool_dir, sheet)
    os.makedirs(target, exist_ok=True)
    staging = os.path.join(target, f".staging-{uuid.uuid4().hex}")
    as_text = df.selectExpr(
        *(f"CAST({q} AS STRING) AS {q}" for q in map(qname, df.columns))
    )
    try:
        as_text.write.csv(
            staging,
            header=True,
            quote='"',
            escape='"',
            ignoreLeadingWhiteSpace=False,
            ignoreTrailingWhiteSpace=False,
            emptyValue="",
            nullValue="",
            lineSep="\n",
        )
        # _SUCCESS, the .crc checksums and the parts without rows stay
        # behind and go with the staging directory
        parts = []
        for name in sorted(os.listdir(staging)):
            if name.startswith("part-") and _has_rows(os.path.join(staging, name)):
                part = os.path.join(target, name)
                os.replace(os.path.join(staging, name), part)
                parts.append(part)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return parts


def foreach_partition_batched(
    df: DataFrame,
    transport: Callable[[list[dict]], None],
    batch_size: int = 3,
) -> None:
    """K2/K3: deliver rows to a side-effecting transport in batches of
    ``batch_size`` per partition (the reference's 3-wager batch POST,
    src/mm_calls.py:263-273). The final short batch flushes too.

    ``transport`` runs on executors: it must be serializable and
    self-contained (build its session inside, not in the closure).
    """

    def send_partition(rows: Iterator[Row]) -> None:
        batch: list[dict] = []
        for row in rows:
            batch.append(row.asDict())
            if len(batch) >= batch_size:
                transport(batch)
                batch = []
        if batch:
            transport(batch)

    df.foreachPartition(send_partition)


class SheetsApiTransport:
    """A batch transport shaped like the Sheets ``values().append``
    call the reference makes (src/main.py:23-37): each batch becomes
    one append request body ``{"range": "<sheet>!A1", "majorDimension":
    "ROWS", "values": [[...RAW strings...]]}`` with
    ``valueInputOption=RAW`` semantics (every cell stringified, null →
    "").

    The byte-mover is the injected ``send(body_dict)`` callable —
    tests pass a recorder, production passes a googleapis client call.
    Executor-safe: construct with picklable ``send`` (build sessions
    inside it, not in the closure).
    """

    def __init__(
        self,
        sheet: str,
        send: Callable[[dict], None],
        columns: Sequence[str],
    ) -> None:
        self.sheet = sheet
        self.send = send
        self.columns = list(columns)

    def __call__(self, batch: list[dict]) -> None:
        values = [[_raw(row.get(c)) for c in self.columns] for row in batch]
        self.send(
            {
                "range": f"{self.sheet}!A1",
                "majorDimension": "ROWS",
                "values": values,
            }
        )


class ServiceAccountCredentials:
    """Service-account token lifecycle for the Sheets append call —
    the credential flow the reference builds at import time
    (src/main.py:10-19: ``service_account.Credentials.
    from_service_account_file(..., scopes=SCOPES)`` feeding
    ``build("sheets", "v4")``), re-expressed over injected seams so
    the engine owns the FLOW (assertion claims, token caching, expiry
    refresh) and never the crypto or the network:

    - ``signer(payload: dict) -> str`` turns the JWT claim set into a
      signed assertion (production: RS256 over the service account's
      private key; tests: any deterministic encoder).
    - ``exchange(assertion: str) -> dict`` posts it to the token URI
      and returns ``{"access_token": ..., "expires_in": ...}``.

    ``token()`` returns a cached access token until it is within
    ``refresh_skew_s`` of expiry, then re-asserts — the same
    refresh-before-expiry behavior google-auth applies under the
    reference, and the Sheets analog of the exchange-login
    ``AuthSession`` rotation (sources/http.py).

    DRIVER-SIDE ONLY: the reference appends from its one process, and
    the composed send (:func:`authorized_append_send`) captures this
    object — production signers hold private-key material that must
    not (and often cannot) be pickled to executors. For executor-side
    delivery, snapshot ``token()`` into a plain bearer string on the
    driver and build the executor send from that string.
    """

    _TOKEN_LIFETIME_S = 3600

    def __init__(
        self,
        client_email: str,
        token_uri: str,
        scopes: Sequence[str],
        signer: Callable[[dict], str],
        exchange: Callable[[str], dict],
        clock: Callable[[], float] | None = None,
        refresh_skew_s: int = 300,
    ) -> None:
        import time as _time

        self.client_email = client_email
        self.token_uri = token_uri
        self.scopes = list(scopes)
        self._signer = signer
        self._exchange = exchange
        self._clock = clock or _time.time
        self._skew = refresh_skew_s
        self._access_token: str | None = None
        self._expires_at: float = 0.0

    def _assert_claims(self, now: float) -> dict:
        # The standard service-account JWT grant claim set (RFC 7523 /
        # Google token endpoint): issuer = the account email, scope =
        # space-joined, audience = the token URI itself.
        return {
            "iss": self.client_email,
            "scope": " ".join(self.scopes),
            "aud": self.token_uri,
            "iat": int(now),
            "exp": int(now) + self._TOKEN_LIFETIME_S,
        }

    def token(self) -> str:
        now = self._clock()
        if self._access_token is None or now >= self._expires_at - self._skew:
            granted = self._exchange(self._signer(self._assert_claims(now)))
            self._access_token = str(granted["access_token"])
            self._expires_at = now + float(
                granted.get("expires_in", self._TOKEN_LIFETIME_S)
            )
        return self._access_token


def authorized_append_send(
    credentials: ServiceAccountCredentials,
    spreadsheet_id: str,
    post: Callable[[str, dict, dict], None],
    on_error: Callable[[Exception], None] | None = None,
) -> Callable[[dict], None]:
    """Compose a :class:`SheetsApiTransport` ``send`` from the
    credential flow and a raw HTTP seam: each append body is POSTed to
    the versioned append endpoint with a fresh Bearer header
    (refreshing through :meth:`ServiceAccountCredentials.token` when
    due) and ``valueInputOption=RAW`` — the exact call shape of the
    reference's ``write_to_sheet`` (src/main.py:23-37).

    Errors follow the reference's contract: ``write_to_sheet`` catches
    ``HttpError``, logs, and keeps going — pass ``on_error`` to get
    that log-and-continue behavior (covering BOTH the token exchange
    and the append POST); omit it to re-raise. Driver-side like the
    reference's append loop — see the credential class docstring for
    the executor-side pattern.
    """
    from urllib.parse import quote

    def send(body: dict) -> None:
        # Percent-encode the range path segment: Sheets range syntax
        # ("'My Wagers'!A1") carries spaces/quotes that would produce
        # a malformed request line if interpolated raw (the googleapis
        # client encodes this segment too).
        path = (
            f"/v4/spreadsheets/{spreadsheet_id}/values/"
            f"{quote(str(body['range']), safe='')}:append?valueInputOption=RAW"
        )
        try:
            headers = {"Authorization": f"Bearer {credentials.token()}"}
            post(path, headers, body)
        except Exception as exc:  # noqa: BLE001 — mirror of HttpError catch
            if on_error is None:
                raise
            on_error(exc)

    return send


class SpoolTransport:
    """A file-backed transport for tests and local runs: each batch
    becomes one JSON-lines file (stand-in for one POST)."""

    def __init__(self, spool_dir: str) -> None:
        self.spool_dir = spool_dir

    def __call__(self, batch: list[dict]) -> None:
        import json

        os.makedirs(self.spool_dir, exist_ok=True)
        part = os.path.join(self.spool_dir, f"batch-{uuid.uuid4().hex}.jsonl")
        tmp = part + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            for item in batch:
                fh.write(json.dumps(item, default=str) + "\n")
        os.replace(tmp, part)
