"""Notification side-channel (reference O1-O4, main.py:575-627).

The reference emails success / error / no-data reports through Gmail.
The engine keeps the same event surface behind a protocol so the
dataflow core stays pure; production would plug an SMTP/webhook
implementation, tests plug the collecting one. Notification content is
fed by aggregate counts (df.observe metrics) — never by collecting
rows to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Protocol


class Notifier(Protocol):
    def success(self, filename: str, inserted_rows: int) -> None: ...
    def error(self, context: str, details: str) -> None: ...
    def no_data(self, query: str) -> None: ...


@dataclass
class Notification:
    kind: str  # success | error | no_data
    subject: str
    body: str


@dataclass
class CollectingNotifier:
    """Accumulates notifications; the test/driver double. Transports
    subclass it and override only ``_deliver``."""

    events: list[Notification] = field(default_factory=list)

    def success(self, filename: str, inserted_rows: int) -> None:
        # subject/body shape mirrors send_success_email (main.py:591-598)
        self._record(
            Notification(
                "success",
                f"SUCCESS: CTB File Processed - {filename}",
                f"Successfully inserted {inserted_rows} rows from '{filename}'.",
            )
        )

    def error(self, context: str, details: str) -> None:
        # mirrors send_error_email (main.py:601-620)
        self._record(
            Notification(
                "error", f"ERROR: CTB Processing Failed - {context}", details
            )
        )

    def no_data(self, query: str) -> None:
        # mirrors send_no_ctb_email (main.py:623-627)
        self._record(
            Notification(
                "no_data",
                "No CTB files found",
                f"No messages matched query: {query}",
            )
        )

    def _record(self, ev: Notification) -> None:
        self.events.append(ev)
        self._deliver(ev)

    def _deliver(self, ev: Notification) -> None:
        """Send ``ev`` after it is collected; collecting alone sends nothing."""


class ConsoleNotifier(CollectingNotifier):
    """Prints as it collects — the local/dev default."""

    def _deliver(self, ev: Notification) -> None:
        print(f"[notify] {ev.subject}")


@dataclass
class SmtpNotifier(CollectingNotifier):
    """Real email transport (reference O1, main.py:575-588: SMTP over
    Gmail with app credentials) — completes the Notifier protocol with
    the delivery mechanism the reference actually uses.

    Composition: message CONTENT comes from CollectingNotifier (the
    subject/body shapes mirroring main.py:591-627 stay in one place
    and remain inspectable in self.events after sending); this class
    only adds transport. smtplib is stdlib, so no guard is needed —
    but the connection is opened per send and failures raise to the
    caller (the runner's per-file exception isolation decides policy,
    mirroring the reference's try/except around each send,
    main.py:585-588)."""

    host: str = "localhost"
    port: int = 25
    sender: str = "etl-engine@localhost"
    recipients: tuple[str, ...] = ()
    # repr=False: credentials must never leak through the generated
    # __repr__ into error/debug logs that format the notifier
    username: str | None = field(default=None, repr=False)
    password: str | None = field(default=None, repr=False)
    use_tls: bool = False
    # injection point for tests / alternative transports: a callable
    # returning an smtplib.SMTP-compatible object
    connection_factory: object | None = None

    def _deliver(self, ev: Notification) -> None:
        if not self.recipients:
            return
        import smtplib
        from email.message import EmailMessage

        msg = EmailMessage()
        msg["Subject"] = ev.subject
        msg["From"] = self.sender
        msg["To"] = ", ".join(self.recipients)
        msg.set_content(ev.body)

        factory = self.connection_factory or (
            lambda: smtplib.SMTP(self.host, self.port, timeout=30)
        )
        conn = factory()
        try:
            if self.use_tls:
                conn.starttls()
            if self.username and self.password:
                conn.login(self.username, self.password)
            conn.send_message(msg)
        finally:
            conn.quit()
