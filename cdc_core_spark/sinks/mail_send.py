"""Outbound mail sink — the SMTP send half of the reference's mail store.

Reference: ``MailDataStore.createMessage`` builds a ``MimeMessage`` (from /
to / cc / subject / text body) per record and sends it over the configured
``SMTPConnection`` session (intake/.../sources/email/MailDataStore.java:62-110,
connections/mail/SMTPConnection.java); errors ride the store's exception
path one message at a time.

Spark-first shape: composition and delivery are both SET operations.

* ``render_messages`` builds RFC-5322 MIME bytes for every row in one
  Arrow-batched ``mapInPandas`` pass (the stdlib ``email`` package does
  header folding / charset negotiation correctly — exactly the fiddly
  part hand-rolled ``concat`` SQL gets wrong for non-ASCII subjects).
  Python here is deliberate and batch-vectorized, the same boundary the
  multimodal codec path uses: mail volume is per-notification, not
  per-table-row, and correctness beats codegen on header encoding.
* ``smtp_send`` delivers partition-wise: ONE SMTP connection per
  partition (the reference's pooled-connection shape — per-row connects
  are the classic mail-sink meltdown), yielding one RECEIPT row per
  message ``(correlation_id, to_addr, ok, error, smtp_code)`` instead of
  throwing on the first failure — delivery is data, the caller routes
  failed receipts like any DLQ split. ``batch_pause_ms`` rate-limits per
  partition (provider throttles are per-connection).

No broker exists in this sandbox; the protocol path is tested against an
in-process RFC-5321 server (tests/test_mail_send.py) the same way the
queue sources are tested against interface fixtures.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: receipt schema (one row per attempted delivery)
RECEIPT_SCHEMA = ("correlation_id string, to_addr string, ok boolean, "
                  "error string, smtp_code int")

_RENDER_SCHEMA = ("correlation_id string, to_addr string, from_addr string, "
                  "mime binary")


def render_messages(df: DataFrame, *, to_col: str, subject_col: str,
                    body_col: str, from_addr: str,
                    correlation_col: str,
                    cc_col: str | None = None,
                    reply_to: str | None = None) -> DataFrame:
    """Compose one MIME message per row → ``(correlation_id, to_addr,
    from_addr, mime)``. Deterministic: no Date/Message-ID headers are
    stamped here (the SMTP hop adds its own trace headers); add them in
    ``extra_headers`` of your own wrapper if an archive needs them."""
    cols = [correlation_col, to_col, subject_col, body_col] + \
        ([cc_col] if cc_col else [])
    src = df.select(*[F.col(c) for c in cols])

    def _render(batches: Iterator) -> Iterator:
        import pandas as pd
        from email.message import EmailMessage

        for pdf in batches:
            out = {"correlation_id": [], "to_addr": [], "from_addr": [],
                   "mime": []}
            for row in pdf.itertuples(index=False):
                vals = dict(zip(pdf.columns, row))
                msg = EmailMessage()
                msg["From"] = from_addr
                msg["To"] = str(vals[to_col])
                if cc_col and vals.get(cc_col):
                    msg["Cc"] = str(vals[cc_col])
                if reply_to:
                    msg["Reply-To"] = reply_to
                msg["Subject"] = str(vals[subject_col] or "")
                msg.set_content(str(vals[body_col] or ""))
                out["correlation_id"].append(str(vals[correlation_col]))
                out["to_addr"].append(str(vals[to_col]))
                out["from_addr"].append(from_addr)
                out["mime"].append(bytes(msg))
            yield pd.DataFrame(out)

    return src.mapInPandas(_render, schema=_RENDER_SCHEMA)


def smtp_send(messages: DataFrame, host: str, port: int = 25, *,
              starttls: bool = False, username: str | None = None,
              password: str | None = None,
              timeout_sec: float = 30.0,
              batch_pause_ms: int = 0) -> DataFrame:
    """Deliver ``render_messages`` output over SMTP, one connection per
    partition, returning a receipt per message (never throws per-message:
    a refused recipient is a ``ok=false`` receipt with the server's code,
    the same failure-is-data contract as the engine's quarantine path).
    Connection-level failures (host down, auth rejected) DO raise — a
    dead relay must fail the job loudly, not mint 10^6 failed receipts.

    Size the partition count to the relay's concurrency budget
    (``messages.repartition(n)``): n partitions = n concurrent SMTP
    connections.

    Delivery is AT-LEAST-ONCE. A connection-level failure fails the task,
    and Spark's task retry re-runs the whole partition, so messages the
    relay already accepted before the failure are sent again. For
    at-most-once, run the send action with ``spark.task.maxFailures=1``;
    for effectively-once, stamp a stable ``Message-ID`` (derived from the
    correlation id) and dedupe on it at the relay."""

    def _send(batches: Iterator) -> Iterator:
        import smtplib
        import pandas as pd
        import time as _t

        conn = smtplib.SMTP(host, port, timeout=timeout_sec)
        try:
            if starttls:
                conn.starttls()
            if username is not None:
                conn.login(username, password or "")
            for pdf in batches:
                out = {"correlation_id": [], "to_addr": [], "ok": [],
                       "error": [], "smtp_code": []}
                for row in pdf.itertuples(index=False):
                    vals = dict(zip(pdf.columns, row))
                    ok, err, code = True, None, 250
                    try:
                        conn.sendmail(vals["from_addr"], [vals["to_addr"]],
                                      bytes(vals["mime"]))
                    except smtplib.SMTPRecipientsRefused as e:
                        ok = False
                        bad = next(iter(e.recipients.values()))
                        code, err = bad[0], bad[1].decode(errors="replace") \
                            if isinstance(bad[1], bytes) else str(bad[1])
                    except smtplib.SMTPResponseException as e:
                        ok, code = False, e.smtp_code
                        err = (e.smtp_error.decode(errors="replace")
                               if isinstance(e.smtp_error, bytes)
                               else str(e.smtp_error))
                    out["correlation_id"].append(vals["correlation_id"])
                    out["to_addr"].append(vals["to_addr"])
                    out["ok"].append(ok)
                    out["error"].append(err)
                    out["smtp_code"].append(code)
                    if batch_pause_ms:
                        _t.sleep(batch_pause_ms / 1000.0)
                yield pd.DataFrame(out)
        finally:
            try:
                conn.quit()
            except Exception:
                pass

    return messages.mapInPandas(_send, schema=RECEIPT_SCHEMA)
