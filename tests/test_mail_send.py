"""Outbound mail sink: MIME composition + partition-wise SMTP delivery
against an in-process RFC-5321 server (no broker in the sandbox — the
server speaks the real wire protocol, so smtplib's full client path is
exercised end-to-end including multi-connection parallel delivery,
per-recipient refusals and a relay that drops the connection).

The server's behaviour is keyed by recipient: ``reject@`` gets a
permanent 550, ``busy@`` a transient 451, and ``drop@`` makes the relay
close the socket without replying."""

from __future__ import annotations

import socketserver
import threading
from email import message_from_bytes

import pytest
from pyspark.sql import functions as F

from cdc_core_spark.sinks.mail_send import render_messages, smtp_send


class _SmtpHandler(socketserver.StreamRequestHandler):
    def handle(self):
        srv = self.server
        self.wfile.write(b"220 test ready\r\n")
        sender, rcpts = None, []
        while True:
            line = self.rfile.readline()
            if not line:
                return
            cmd = line.decode(errors="replace").strip()
            up = cmd.upper()
            if up.startswith("EHLO") or up.startswith("HELO"):
                self.wfile.write(b"250 ok\r\n")
            elif up.startswith("MAIL FROM"):
                sender = cmd.split(":", 1)[1].strip()
                self.wfile.write(b"250 ok\r\n")
            elif up.startswith("RCPT TO"):
                addr = cmd.split(":", 1)[1].strip().strip("<>")
                if addr.startswith("reject@"):
                    self.wfile.write(b"550 mailbox unavailable\r\n")
                elif addr.startswith("busy@"):
                    self.wfile.write(b"451 try again later\r\n")
                elif addr.startswith("drop@"):
                    return          # hang up mid-transaction
                else:
                    rcpts.append(addr)
                    self.wfile.write(b"250 ok\r\n")
            elif up == "DATA":
                self.wfile.write(b"354 end with <CRLF>.<CRLF>\r\n")
                body = []
                while True:
                    dl = self.rfile.readline()
                    if dl in (b".\r\n", b".\n"):
                        break
                    body.append(dl[1:] if dl.startswith(b"..") else dl)
                with srv.lock:
                    srv.inbox.append((sender, list(rcpts), b"".join(body)))
                rcpts = []
                self.wfile.write(b"250 accepted\r\n")
            elif up == "QUIT":
                self.wfile.write(b"221 bye\r\n")
                return
            elif up.startswith("RSET"):
                sender, rcpts = None, []
                self.wfile.write(b"250 ok\r\n")
            else:
                self.wfile.write(b"250 ok\r\n")


@pytest.fixture()
def smtp_server():
    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _SmtpHandler)
    srv.inbox, srv.lock = [], threading.Lock()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()
    srv.server_close()


def _outbox(spark, n=6, special=None):
    """``n`` messages to ``user<i>@x.test``, except the ids in ``special``
    (id → address; default: id 2 goes to ``reject@``)."""
    special = {2: "reject@x.test"} if special is None else special
    to = F.concat(F.lit("user"), F.col("id"), F.lit("@x.test"))
    for i, addr in special.items():
        to = F.when(F.col("id") == i, F.lit(addr)).otherwise(to)
    return spark.range(n).select(
        F.concat(F.lit("c"), F.col("id")).alias("cid"),
        to.alias("to"),
        F.concat(F.lit("subject "), F.col("id"),
                 F.lit(" — naïve ünïcode")).alias("subj"),
        F.concat(F.lit("body of message "), F.col("id")).alias("body"))


def test_render_messages_valid_mime(spark):
    msgs = render_messages(_outbox(spark), to_col="to", subject_col="subj",
                           body_col="body", from_addr="eng@cdc.test",
                           correlation_col="cid").collect()
    assert len(msgs) == 6
    by_cid = {m["correlation_id"]: m for m in msgs}
    parsed = message_from_bytes(bytes(by_cid["c1"]["mime"]))
    assert parsed["To"] == "user1@x.test"
    assert parsed["From"] == "eng@cdc.test"
    # non-ASCII subject must round-trip through proper RFC-2047 encoding
    from email.header import decode_header, make_header
    assert "naïve ünïcode" in str(make_header(
        decode_header(parsed["Subject"])))
    assert "body of message 1" in parsed.get_payload(decode=True).decode()


def test_smtp_send_receipts_and_delivery(spark, smtp_server):
    host, port = smtp_server.server_address
    outbox = _outbox(spark, n=7,
                     special={2: "reject@x.test", 6: "busy@x.test"})
    msgs = render_messages(outbox, to_col="to", subject_col="subj",
                           body_col="body", from_addr="eng@cdc.test",
                           correlation_col="cid")
    # 2 partitions = 2 concurrent SMTP connections (the pooled shape)
    receipts = smtp_send(msgs.repartition(2), host, port).collect()
    by_cid = {r["correlation_id"]: r for r in receipts}
    assert len(receipts) == 7
    assert not by_cid["c2"]["ok"] and by_cid["c2"]["smtp_code"] == 550
    # a transient refusal is a receipt too, with the relay's own code
    assert not by_cid["c6"]["ok"] and by_cid["c6"]["smtp_code"] == 451
    assert all(by_cid[f"c{i}"]["ok"] for i in (0, 1, 3, 4, 5))
    with smtp_server.lock:
        inbox = list(smtp_server.inbox)
    assert len(inbox) == 5                      # refused ones never DATA'd
    tos = sorted(r for _, rs, _ in inbox for r in rs)
    assert tos == [f"user{i}@x.test" for i in (0, 1, 3, 4, 5)]
    # the delivered bytes parse back to the composed message
    body = next(b for _, rs, b in inbox if rs == ["user4@x.test"])
    assert b"body of message 4" in body


def test_smtp_send_relay_down_raises(spark):
    """A relay that is down is a connection-level failure: the send action
    raises instead of returning receipts (``ok=false`` receipts are only
    for per-message refusals)."""
    import socket
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]     # closed on exit: nothing listens here
    msgs = render_messages(_outbox(spark), to_col="to", subject_col="subj",
                           body_col="body", from_addr="eng@cdc.test",
                           correlation_col="cid")
    with pytest.raises(Exception, match="ConnectionRefusedError"):
        smtp_send(msgs.coalesce(1), "127.0.0.1", port,
                  timeout_sec=5).collect()


def test_smtp_send_relay_drop_raises(spark, smtp_server):
    """A relay that drops the connection AFTER accepting a message is a
    connection-level failure: the send action raises, it does not return
    receipts for the messages that happened to get through."""
    host, port = smtp_server.server_address
    msgs = render_messages(_outbox(spark, n=3, special={1: "drop@x.test"}),
                           to_col="to", subject_col="subj", body_col="body",
                           from_addr="eng@cdc.test", correlation_col="cid")
    with pytest.raises(Exception, match="SMTPServerDisconnected"):
        smtp_send(msgs.coalesce(1), host, port, timeout_sec=5).collect()
    with smtp_server.lock:
        inbox = list(smtp_server.inbox)
    # the relay had accepted c0 before it hung up on c1 (a task retry, if
    # the session allows one, re-sends it: the documented at-least-once)
    assert inbox and all(rs == ["user0@x.test"] for _, rs, _ in inbox)
