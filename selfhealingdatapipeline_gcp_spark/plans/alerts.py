"""Alert severity model + routing (reference:
monitoring/alerts/alert_manager.py — severity routing and alert
dedup over detector outputs).

Detector DataFrames flow in; alerts come out as rows (a DataFrame
sink, not side-channel prints) so downstream routing is itself a
Spark job at scale.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SEVERITIES = ("NONE", "LOW", "MEDIUM", "HIGH", "CRITICAL")


def severity_from_deviation(deviation_pct_col) -> object:
    """The reference's shared severity ladder
    (revenue_detector.py:273-282): ≥30 CRITICAL, ≥20 HIGH,
    ≥10 MEDIUM, else LOW."""
    d = F.abs(deviation_pct_col)
    return (F.when(d >= 30, "CRITICAL")
             .when(d >= 20, "HIGH")
             .when(d >= 10, "MEDIUM")
             .otherwise("LOW"))


def feed_missing_severity() -> object:
    """feed_detector.py:182-193 ``_calculate_severity``: severity from
    the missing/total feed ratio — ≥50% CRITICAL, ≥30% HIGH, ≥10%
    MEDIUM, else LOW. The ratio spans the WHOLE detector output, so it
    is a window over the full relation — O(feeds) rows, bounded."""
    w = Window.partitionBy(F.lit(1))
    pct = (F.sum(F.col("is_missing").cast("int")).over(w) * 100.0
           / F.count(F.lit(1)).over(w))
    return (F.when(pct >= 50, "CRITICAL")
             .when(pct >= 30, "HIGH")
             .when(pct >= 10, "MEDIUM")
             .otherwise("LOW"))


def quality_increase_severity(increase_column: str):
    """quality_detector.py:225-236 ``_calculate_severity``'s
    single-degradation branch: increase > 5 pct points → HIGH, else
    MEDIUM (the ≥2/≥3 degradation-count rungs are emergent here —
    each degraded row is its own alert row)."""
    def factory() -> object:
        return (F.when(F.col(increase_column) > 5, "HIGH")
                 .otherwise("MEDIUM"))
    return factory


@dataclass(frozen=True)
class AlertRule:
    detector: str                      # registry query name
    flag_column: str                   # boolean column marking a firing row
    deviation_column: str | None = None  # drives severity when present
    key_columns: tuple[str, ...] = ()  # identity for dedup
    # lazily-built Column overriding the deviation ladder (lazy so the
    # module imports without an active SparkSession)
    severity_factory: object | None = None
    # recommended actions carried on every alert from this rule
    # (alert_manager.py:24,90-94 formats `recommendations` into every
    # delivered alert; each reference detector ships a fallback
    # recommended_actions list when its LLM analysis is absent —
    # feed_detector.py:179, revenue_detector.py:270, etc.)
    recommendations: tuple[str, ...] = ()


DEFAULT_RULES = (
    # per-rule actions mirror the reference detectors' fallback
    # recommended_actions lists (revenue_detector.py:270,
    # pattern_detector.py:231, reconciliation_detector.py:202,
    # freshness_detector.py:168, feed_detector.py:179,
    # quality_detector.py:222), tied where possible to this repo's
    # healer remedies so the action is executable here
    AlertRule("revenue_anomaly", "is_anomaly", "z_score", ("d",),
              recommendations=("investigate transaction data for the "
                               "flagged day", "check for system issues",
                               "review recent pricing changes")),
    AlertRule("transaction_volume_anomaly", "is_anomaly", "z_score",
              ("hour",),
              recommendations=("check upstream ingest for the flagged "
                               "hour", "compare against the weekly "
                               "seasonality profile")),
    AlertRule("pattern_break_region", "is_break", "deviation_pct",
              ("region",),
              recommendations=("investigate data sources for the "
                               "region", "check for fraud patterns",
                               "review recent changes")),
    AlertRule("pattern_break_product", "is_break", "deviation_pct",
              ("brand",),
              recommendations=("investigate data sources for the "
                               "brand", "check for fraud patterns",
                               "review recent changes")),
    AlertRule("reconciliation_orders_lineitem", "is_mismatch",
              "discrepancy_pct", ("d",),
              recommendations=("review ETL logs for the flagged day",
                               "check for processing errors",
                               "reprocess affected data")),
    AlertRule("freshness_check", "is_stale", None, ("source",),
              recommendations=("check upstream systems",
                               "verify network connectivity",
                               "review data pipeline logs")),
    AlertRule("sla_processing_velocity", "sla_breach", None, (),
              recommendations=("scale processing resources",
                               "review stage timings for the slow "
                               "window")),
    AlertRule("feed_status", "is_missing", None, ("feed_id",),
              severity_factory=feed_missing_severity,
              recommendations=("check upstream systems",
                               "contact data providers",
                               "use backup data if available")),
    AlertRule("quality_null_trend", "is_degraded", None, ("col_name",),
              severity_factory=quality_increase_severity("delta_pct"),
              recommendations=("investigate upstream data sources",
                               "review ETL processes",
                               "check data validation rules")),
    AlertRule("quality_duplicate_trend", "is_degraded", None, ("d",),
              severity_factory=quality_increase_severity("increase_pct"),
              recommendations=("investigate upstream data sources",
                               "run dedup_exact on the affected day",
                               "check data validation rules")),
)


def alerts_from(detector_name: str, df: DataFrame, rule: AlertRule) -> DataFrame:
    """Project a detector output into the uniform alert schema:
    (detector, alert_key, severity, detail, recommendations). Only
    firing rows. ``recommendations`` is the rule's recommended-action
    list (array<string>), the reference's alert payload field
    (alert_manager.py:24) every sender formats into its delivery."""
    detail_cols = list(df.columns)
    if rule.severity_factory is not None:
        # computed BEFORE the firing filter: ratio ladders (feed
        # missing pct) span the whole detector output
        df = df.withColumn("__severity", rule.severity_factory())
        severity = F.col("__severity")
    elif rule.deviation_column:
        severity = severity_from_deviation(F.col(rule.deviation_column) * 10)
    else:
        severity = F.lit("HIGH")
    fired = df.filter(F.col(rule.flag_column))
    key = (F.concat_ws("|", *[F.col(c).cast("string") for c in rule.key_columns])
           if rule.key_columns else F.lit(""))
    detail = F.to_json(F.struct(*[F.col(c) for c in detail_cols]))
    recs = (F.array(*[F.lit(r) for r in rule.recommendations])
            if rule.recommendations
            else F.array().cast("array<string>"))
    return fired.select(
        F.lit(detector_name).alias("detector"),
        key.alias("alert_key"),
        severity.alias("severity"),
        detail.alias("detail"),
        recs.alias("recommendations"),
    )


def collect_alerts(named_outputs: dict[str, DataFrame],
                   rules: tuple[AlertRule, ...] = DEFAULT_RULES) -> DataFrame:
    """Union all firing detectors into one alert stream, deduplicated
    on (detector, alert_key) — alert_manager's dedup, as a plan."""
    parts = [
        alerts_from(r.detector, named_outputs[r.detector], r)
        for r in rules if r.detector in named_outputs
    ]
    if not parts:
        raise ValueError("no detector outputs matched the rule set")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["detector", "alert_key"])


# ---------------------------------------------------------------------------
# Channel routing + time-window dedup (alert_manager.py:24-213)
# ---------------------------------------------------------------------------

def route_channels(severity: str) -> tuple[str, ...]:
    """Severity → delivery channels (alert_manager.py:43-52:
    CRITICAL → everything, HIGH → email+slack, MEDIUM → slack,
    LOW/NONE → log only)."""
    if severity == "CRITICAL":
        return ("slack", "email", "log")
    if severity == "HIGH":
        return ("email", "slack")
    if severity == "MEDIUM":
        return ("slack",)
    return ("log",)


def with_routing(alerts: DataFrame) -> DataFrame:
    """Attach the channel list to each alert row (codegen CASE, no
    driver round-trips)."""
    ch = (F.when(F.col("severity") == "CRITICAL",
                 F.array(F.lit("slack"), F.lit("email"), F.lit("log")))
           .when(F.col("severity") == "HIGH",
                 F.array(F.lit("email"), F.lit("slack")))
           .when(F.col("severity") == "MEDIUM", F.array(F.lit("slack")))
           .otherwise(F.array(F.lit("log"))))
    return alerts.withColumn("channels", ch)


def dedup_against_history(alerts: DataFrame, history: DataFrame,
                          now_ts, window_hours: int = 1) -> DataFrame:
    """Suppress alerts already sent within the window
    (alert_manager.py:199-208 ``_is_duplicate``, as a DataFrame
    anti-join against the alert-history table instead of an in-memory
    dict — survives restarts and scales to any alert volume).

    history: (detector, alert_key, sent_ts). now_ts: Column/literal
    timestamp for "now" (never wall-clock inside the plan).

    Written as a left join on the distinct recent keys plus a null
    filter, not as a ``left_anti`` join: Spark pushes an anti join
    below ``collect_alerts``' dedup and union into every rule's leg,
    and then broadcasts the history once per rule (ten broadcast jobs
    where one does)."""
    keys = ["detector", "alert_key"]
    recent = (
        history.filter(
            F.col("sent_ts") >= F.lit(now_ts) - F.expr(
                f"INTERVAL {window_hours} HOURS"))
        .select(*keys).distinct()
        .withColumn("__sent", F.lit(True))
    )
    return (alerts.join(recent, keys, "left")
            .filter(F.col("__sent").isNull())
            .select(*alerts.columns))


class AlertSender:
    """Pluggable delivery (alert_manager.py:103-197). Slack/email need
    network credentials — unconfigured channels fall back to the log
    channel exactly like the reference's "not configured" paths.

    ``transports`` maps channel name → callable(channel, row); a
    configured transport overrides the built-in behavior, which is how
    a real webhook/SMTP sender plugs in without touching this class
    (and how FileAlertSender implements file delivery)."""

    def __init__(self, config: dict | None = None,
                 transports: dict | None = None):
        self.config = config or {}
        self.transports = transports or {}
        self.sent: list[tuple[str, str]] = []  # (channel, alert_key) audit

    def deliver(self, alerts: DataFrame) -> int:
        routed = with_routing(alerts).collect()
        for row in routed:
            for channel in row.channels:
                if channel not in self.transports:
                    if channel == "slack" and not self.config.get("slack_webhook"):
                        channel = "log"
                    if channel == "email" and not self.config.get("email"):
                        channel = "log"
                self._send(channel, row)
        return len(routed)

    def _send(self, channel: str, row) -> None:
        transport = self.transports.get(channel)
        if transport is not None:
            transport(channel, row)
        elif channel == "log":
            print(f"[ALERT:{row.severity}] {row.detector} {row.alert_key}")
        elif channel == "slack":
            raise NotImplementedError(
                "slack webhook delivery requires network access; "
                "configure 'slack_webhook' on a real deployment")
        elif channel == "email":
            raise NotImplementedError(
                "smtp delivery requires network access; configure "
                "'email' on a real deployment")
        self.sent.append((channel, f"{row.detector}:{row.alert_key}"))


class WebhookAlertSender(AlertSender):
    """Webhook delivery for the slack channel (the reference's
    Slack-webhook shape, alert_manager.py:103-137): each routed alert
    POSTs one JSON payload (``{"text": ..., "severity": ...,
    "detector": ..., "alert_key": ..., "detail": ...}``) to ``url``
    via urllib — no extra dependencies. Non-2xx responses raise, so a
    dead webhook fails the delivery step loudly (the pipeline's retry
    policy owns re-sends); email/log keep AlertSender's defaults."""

    def __init__(self, url: str, timeout_s: float = 5.0):
        self.url = url
        self.timeout_s = timeout_s
        super().__init__(
            config={"slack_webhook": url},
            transports={"slack": self._post},
        )

    def _post(self, channel: str, row) -> None:
        import json
        import urllib.request

        payload = json.dumps({
            "text": f"[{row.severity}] {row.detector}: {row.alert_key}",
            "severity": row.severity,
            "detector": row.detector,
            "alert_key": row.alert_key,
            "detail": row.detail,
            "recommendations": list(getattr(row, "recommendations",
                                            None) or []),
        }).encode("utf-8")
        req = urllib.request.Request(
            self.url, data=payload,
            headers={"Content-Type": "application/json"}, method="POST")
        with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
            if not 200 <= resp.status < 300:
                raise RuntimeError(
                    f"webhook delivery failed: HTTP {resp.status}")


class FileAlertSender(AlertSender):
    """End-to-end alert delivery to an inspectable sink
    (alert_manager.py:103-180 minus the network): every routed channel
    lands as one JSON line in ``<out_dir>/<channel>.jsonl``. The
    severity→channel routing, "not configured" fallbacks, and the
    audit trail are all inherited from AlertSender — this class only
    supplies a transport for every channel, so nothing falls back and
    nothing raises. A real deployment swaps individual transports
    (e.g. a webhook poster for "slack") and keeps file delivery for
    the rest."""

    def __init__(self, out_dir: str):
        import os
        os.makedirs(out_dir, exist_ok=True)
        self.out_dir = out_dir
        super().__init__(
            # mark slack/email configured so routing does NOT fall
            # back to log — each channel lands in its own file
            config={"slack_webhook": "file", "email": "file"},
            transports={c: self._append for c in ("slack", "email", "log")},
        )

    def _append(self, channel: str, row) -> None:
        import json
        import os
        with open(os.path.join(self.out_dir, f"{channel}.jsonl"),
                  "a", encoding="utf-8") as f:
            f.write(json.dumps({
                "detector": row.detector,
                "alert_key": row.alert_key,
                "severity": row.severity,
                "detail": row.detail,
                "recommendations": list(getattr(row, "recommendations",
                                                None) or []),
            }) + "\n")

    def read_back(self, channel: str) -> list[dict]:
        import json
        import os
        path = os.path.join(self.out_dir, f"{channel}.jsonl")
        if not os.path.exists(path):
            return []
        with open(path, encoding="utf-8") as f:
            return [json.loads(line) for line in f if line.strip()]


class SmtpAlertSender(AlertSender):
    """SMTP delivery for the email channel — the stdlib-smtplib
    counterpart of the reference's ``_send_email``
    (alert_manager.py:138-180): MIME message with a
    ``[SEVERITY] detector: key`` subject, the same HTML body shape
    (red heading for CRITICAL, orange otherwise, detail in a <pre>
    block), optional STARTTLS + login. One deliberate divergence:
    the reference swallows send errors with a print; here a failed
    send RAISES so the pipeline's retry policy owns re-sends (the
    WebhookAlertSender discipline). slack/log keep AlertSender's
    defaults."""

    def __init__(self, smtp_server: str, smtp_port: int = 587,
                 from_address: str = "alerts@pipeline.local",
                 to_addresses: tuple[str, ...] = (),
                 username: str | None = None,
                 password: str | None = None,
                 use_tls: bool = True,
                 timeout_s: float = 10.0):
        self.smtp_server = smtp_server
        self.smtp_port = smtp_port
        self.from_address = from_address
        self.to_addresses = tuple(to_addresses)
        self.username = username
        self.password = password
        self.use_tls = use_tls
        self.timeout_s = timeout_s
        super().__init__(
            config={"email": {"enabled": True, "smtp_server": smtp_server}},
            transports={"email": self._smtp_send},
        )

    def build_message(self, row):
        from email.mime.multipart import MIMEMultipart
        from email.mime.text import MIMEText

        msg = MIMEMultipart()
        msg["From"] = self.from_address
        msg["To"] = ", ".join(self.to_addresses)
        msg["Subject"] = f"[{row.severity}] {row.detector}: {row.alert_key}"
        color = "#FF0000" if row.severity == "CRITICAL" else "#FF6600"
        # numbered Recommended Actions block — the reference appends
        # the same list to every formatted alert
        # (alert_manager.py:90-94 `_format_alert`)
        recs = list(getattr(row, "recommendations", None) or [])
        rec_html = ""
        if recs:
            items = "".join(f"<li>{r}</li>" for r in recs)
            rec_html = (f"<h3>Recommended Actions</h3><ol>{items}</ol>")
        html = (
            "<html><body style=\"font-family: Arial, sans-serif;\">"
            f"<h2 style=\"color: {color};\">"
            f"{row.detector}: {row.alert_key}</h2>"
            f"<pre style=\"background-color: #f5f5f5; padding: 15px;"
            f" border-radius: 5px;\">{row.detail}</pre>"
            f"{rec_html}"
            "<p style=\"color: #666; font-size: 12px;\">"
            "Sent by the pipeline monitoring suite</p>"
            "</body></html>"
        )
        msg.attach(MIMEText(html, "html"))
        return msg

    def _smtp_send(self, channel: str, row) -> None:
        import smtplib

        msg = self.build_message(row)
        with smtplib.SMTP(self.smtp_server, self.smtp_port,
                          timeout=self.timeout_s) as server:
            if self.use_tls:
                server.starttls()
            if self.username and self.password:
                server.login(self.username, self.password)
            server.send_message(msg)
