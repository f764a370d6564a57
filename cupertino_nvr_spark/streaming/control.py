"""Control plane: command dispatch, dynamic reconfig with rollback, query
lifecycle, observability (SURVEY §3.3, §2.9 T6/T7/T9/T10, §2.10 U3/U4).

The reference runs an MQTT command topic into a registry of named handlers
with an ack lifecycle — "received" before execution, "completed"/"error"
after (``cupertino_nvr/processor/control_plane.py:260-314``) — and config
changes follow backup -> mutate -> restart -> rollback-on-failure
(``command_handlers.py:480-565``). Here the command stream is any
DataFrame fed through ``ControlPlane.handle_command_batch`` (a foreachBatch
handler); query lifecycle wraps ``StreamingQuery`` stop/rebuild/restart —
the standard Structured Streaming reconfiguration pattern.

Errors never crash the loop: unknown commands, bad params, and handler
exceptions become "error" acks (``control_plane.py:316-339``).
"""

from __future__ import annotations

import logging
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import DataFrame, Row

from cupertino_nvr_spark.functions.validation import (
    is_valid_uri,
    validate_confidence,
    validate_fps,
    validate_metrics_interval,
    validate_model_id,
    validate_stream_uri,
)

logger = logging.getLogger(__name__)


@dataclass(frozen=True)
class EngineConfig:
    """The mutable-by-command config surface (reference
    ``processor/config.py:24-132``), as an immutable snapshot — updates
    produce a new value so rollback is a pointer swap."""

    model_id: str = "synthetic-detector-v1"
    confidence_threshold: float = 0.5
    max_fps: float | None = 1.0
    streams: tuple[str, ...] = ()
    metrics_interval_s: float = 10.0

    def validated(self) -> "EngineConfig":
        # full rule table from reference config.py:99-150 / validators.py
        validate_model_id(self.model_id)
        validate_confidence(self.confidence_threshold)
        if self.max_fps is not None:
            validate_fps(self.max_fps)
        validate_metrics_interval(self.metrics_interval_s)
        # reference config.py:107-108: a streamless engine is a config error
        if not self.streams:
            raise ValueError("stream_uris cannot be empty")
        for uri in self.streams:
            if not is_valid_uri(uri):
                raise ValueError(f"Invalid stream URI: {uri!r}")
        return self


def targeted(target_instances: list[str] | None, instance_id: str) -> bool:
    """Reference semantics (``control_plane.py:341-356``): None / empty /
    ["*"] broadcast to everyone, else exact membership."""
    if not target_instances:
        return True
    return "*" in target_instances or instance_id in target_instances


class ControlPlane:
    """Command registry + query lifecycle manager for one engine instance.

    ``query_factory(config)`` builds-and-starts the data-plane query; the
    control plane owns stop/rebuild/restart around it. Acks and status are
    appended to driver-side lists (the S5/S6 side-output streams) — feed
    them to a ``RetainedLatestStore`` or a real topic in deployment.
    """

    def __init__(
        self,
        instance_id: str,
        config: EngineConfig,
        query_factory: Callable[[EngineConfig], Any] | None = None,
        clock: Callable[[], float] = time.time,
        metrics_provider: Callable[[], dict[str, Any] | None] | None = None,
    ) -> None:
        self.instance_id = instance_id
        self.config = config.validated()
        self._query_factory = query_factory
        self._query: Any = None
        self._clock = clock
        # `metrics` command source: typically a closure over a
        # ProgressListener's latest snapshot (attach_metrics_listener)
        self._metrics_provider = metrics_provider
        self._start_time = clock()
        self._lock = threading.RLock()
        self.paused = False
        self.status = "starting"
        self.acks: list[dict[str, Any]] = []
        self.statuses: list[dict[str, Any]] = []
        self._handlers: dict[str, Callable[[dict[str, str]], Any]] = {}
        self._register_builtin_handlers()

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> None:
        with self._lock:
            if self._query_factory is not None:
                self._query = self._query_factory(self.config)
            self._set_status("running")

    def stop(self) -> None:
        with self._lock:
            if self._query is not None:
                self._query.stop()
                self._query = None
            self._set_status("stopped")

    @property
    def query(self) -> Any:
        return self._query

    def uptime_s(self) -> float:
        return self._clock() - self._start_time

    # -- command dispatch (the foreachBatch entry point) --------------------

    def handle_command_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch handler over the command stream: rows ordered by ts,
        target-filtered, each executed with the received/completed/error ack
        lifecycle."""
        rows = sorted(batch_df.collect(), key=lambda r: r["ts"])
        for row in rows:
            self.handle_command_row(row)

    def handle_command_row(self, row: Row) -> None:
        d = row.asDict(recursive=True)
        command = (d.get("command") or "").lower()
        params = d.get("params") or {}
        if not targeted(d.get("target_instances"), self.instance_id):
            return  # silently drop — not addressed to us (control_plane.py:221-233)
        self._ack(command, "received")
        try:
            handler = self._handlers.get(command)
            if handler is None:
                raise KeyError(
                    f"command {command!r} not available; expected one of "
                    f"{sorted(self._handlers)}"
                )
            handler(params)
            self._ack(command, "completed")
        except Exception as exc:  # never crash the control loop
            logger.exception("command %r failed", command)
            self._ack(command, "error", str(exc))

    # -- handlers (reference command_handlers.py registry) ------------------

    def _register_builtin_handlers(self) -> None:
        self._handlers.update(
            {
                "ping": self._cmd_ping,
                "get_status": self._cmd_get_status,
                "pause": self._cmd_pause,
                "resume": self._cmd_resume,
                "restart": self._cmd_restart,
                # params validated BEFORE the config mutation so a bad value
                # becomes an error ack without touching the running query
                # (reference validates at the handler edge,
                # command_handlers.py via validators.py:49-180)
                "change_model": lambda p: self._config_change(
                    "model_id", validate_model_id(p["model_id"]), restart=True
                ),
                "set_confidence": lambda p: self._config_change(
                    "confidence_threshold",
                    validate_confidence(p["confidence_threshold"]),
                    restart=True,
                ),
                "set_max_fps": lambda p: self._config_change(
                    "max_fps", validate_fps(p["max_fps"]), restart=True
                ),
                "add_stream": self._cmd_add_stream,
                "remove_stream": self._cmd_remove_stream,
                "update_config": self._cmd_update_config,
                # command-plane parity with the reference registration
                # (processor.py:390-407): stop / metrics / rename_instance
                "stop": self._cmd_stop,
                "metrics": self._cmd_metrics,
                "rename_instance": self._cmd_rename_instance,
            }
        )

    def register_handler(self, name: str, fn: Callable[[dict[str, str]], Any]) -> None:
        self._handlers[name.lower()] = fn

    def _cmd_ping(self, params: dict[str, str]) -> None:
        self._set_status(
            "pong",
            uptime_s=round(self.uptime_s(), 3),
            model_id=self.config.model_id,
            n_streams=len(self.config.streams),
            paused=self.paused,
        )

    def _cmd_get_status(self, params: dict[str, str]) -> None:
        self._set_status(self.status, paused=self.paused, uptime_s=round(self.uptime_s(), 3))

    def _cmd_pause(self, params: dict[str, str]) -> None:
        # level 1 is the sink gate (immediate; AtMostOnceSink.pause());
        # level 2 — stopping the source — is the owner's choice, as the
        # reference pauses sink-first then source (pipeline_manager.py:134-175)
        with self._lock:
            self.paused = True
            self._set_status("paused")

    def _cmd_resume(self, params: dict[str, str]) -> None:
        with self._lock:
            self.paused = False
            self._set_status("running")

    def _cmd_restart(self, params: dict[str, str]) -> None:
        with self._lock:
            self._restart_query()

    def _cmd_add_stream(self, params: dict[str, str]) -> None:
        uri = validate_stream_uri(params["uri"])
        if uri in self.config.streams:
            raise ValueError(f"stream already present: {uri}")
        self._config_change("streams", (*self.config.streams, uri), restart=True)

    def _cmd_remove_stream(self, params: dict[str, str]) -> None:
        uri = params["uri"]
        if uri not in self.config.streams:
            raise ValueError(f"stream not present: {uri}")
        self._config_change(
            "streams", tuple(s for s in self.config.streams if s != uri), restart=True
        )

    def _cmd_stop(self, params: dict[str, str]) -> None:
        # STOP terminates the data plane completely (reference
        # command_handlers.py:164-180: terminate_pipeline + a terminal
        # "stopped" status). Delegates to the lifecycle stop() — query
        # factory teardown — so the command plane and the programmatic API
        # share one teardown path; the instance stays alive to answer
        # ping/get_status/restart, as the reference processor does until
        # its shutdown completes.
        with self._lock:
            self.stop()

    def _cmd_metrics(self, params: dict[str, str]) -> None:
        # METRICS returns the latest performance snapshot (reference
        # command_handlers.py:340-373: full watchdog report published to
        # the status plane). Provider absent -> "metrics_unavailable"
        # status and a completed ack, mirroring the reference's
        # warn-and-return rather than an error.
        if self._metrics_provider is None:
            self._set_status(self.status, metrics=None, metrics_available=False)
            return
        snapshot = self._metrics_provider()
        self._set_status(
            self.status,
            metrics=snapshot,
            metrics_available=snapshot is not None,
            uptime_s=round(self.uptime_s(), 3),
        )

    def _cmd_rename_instance(self, params: dict[str, str]) -> None:
        # RENAME_INSTANCE changes instance_id WITHOUT a restart (reference
        # command_handlers.py:430-475). The received ack is emitted under
        # the OLD id before this handler runs and the completed ack under
        # the NEW one after — both identities appear on the ack stream, so
        # an orchestrator can stitch the rename. Status carries
        # renamed_from for the same reason.
        new_id = (params or {}).get("new_instance_id")
        if not new_id:
            raise ValueError("Missing required parameter: new_instance_id")
        with self._lock:
            old_id = self.instance_id
            self.instance_id = new_id
            self._set_status(self.status, renamed_from=old_id)

    def _cmd_update_config(self, params: dict[str, str]) -> None:
        coerced: dict[str, Any] = {}
        for k, v in params.items():
            cur = getattr(self.config, k)  # KeyError -> AttributeError -> error ack
            if isinstance(cur, bool):
                coerced[k] = v in ("true", "True", "1")
            elif isinstance(cur, float) or cur is None:
                coerced[k] = float(v)
            elif isinstance(cur, tuple):
                coerced[k] = tuple(x for x in v.split(",") if x)
            else:
                coerced[k] = v
        self._apply_config(replace(self.config, **coerced), restart=True)

    # -- reconfiguration with rollback (command_handlers.py:480-565) --------

    def _config_change(self, key: str, value: Any, restart: bool) -> None:
        self._apply_config(replace(self.config, **{key: value}), restart=restart)

    def _apply_config(self, new_config: EngineConfig, restart: bool) -> None:
        with self._lock:
            # validate FIRST, before backup/status/mutation (reference
            # command_handlers.py:506-510 step 1): a validation failure —
            # e.g. removing the last stream — needs no rollback and must
            # not restart the healthy running query; it surfaces as an
            # error ack with status untouched
            validated = new_config.validated()
            backup = self.config
            self._set_status("reconfiguring")
            try:
                self.config = validated
                if restart:
                    self._restart_query()
                self._set_status("running")
            except Exception:
                # rollback: restore config AND the running query under it
                self.config = backup
                try:
                    self._restart_query()
                except Exception:
                    logger.exception("rollback restart failed")
                self._set_status("error")
                raise

    def _restart_query(self) -> None:
        if self._query_factory is None:
            return
        if self._query is not None:
            self._query.stop()
            self._query = None
        self._query = self._query_factory(self.config)

    # -- side-output streams -------------------------------------------------

    def _ack(self, command: str, ack_status: str, message: str | None = None) -> None:
        self.acks.append(
            {
                "instance_id": self.instance_id,
                "command": command,
                "ack_status": ack_status,
                "ts": self._clock(),
                "message": message,
            }
        )

    def _set_status(self, status: str, **extra: Any) -> None:
        self.status = status
        self.statuses.append(
            {"instance_id": self.instance_id, "status": status, "ts": self._clock(), **extra}
        )


def full_metrics_report(
    instance_id: str,
    listener: "ProgressListener | None" = None,
    per_source_rows: list[dict[str, Any]] | None = None,
    status_updates: list[dict[str, Any]] | None = None,
    clock: Callable[[], float] = time.time,
) -> dict[str, Any]:
    """The METRICS command's full report, shaped exactly like the
    reference's ``MetricsReporter.get_full_report``
    (``metrics_reporter.py:111-156``): timestamp, instance id, current
    throughput, per-source latency reports, per-source metadata
    (fps/resolution), and recent status updates; plus the latest
    trigger's duration, watermark and per-operator state size, commit
    time and late rows dropped.

    Pure shaping — the inputs are the ProgressListener (U4 hook), the
    collected rows of the ``per_source_latest_metrics`` plan (P8/A3:
    source_id, avg_inference_ms, last_fps, last_latency_ms, resolution),
    and the control plane's status side-output, so it runs identically
    against live listeners or test fakes. Wire it as the plane's
    ``metrics_provider``:

        plane = ControlPlane(..., metrics_provider=lambda:
            full_metrics_report(plane.instance_id, listener, rows,
                                plane.statuses))
    """
    import datetime as _dt

    latest = listener.progress[-1] if listener and listener.progress else None
    rows = per_source_rows or []
    return {
        "timestamp": _dt.datetime.fromtimestamp(
            clock(), tz=_dt.timezone.utc
        ).isoformat(),
        "instance_id": instance_id,
        "inference_throughput": (
            latest.get("processed_rows_per_second") if latest else None
        ),
        # the watchdog half of the report: how long the last trigger took,
        # where the watermark stands, and for each stateful operator how
        # much state it holds, how long its commit took and how many late
        # rows it dropped
        "stream_progress": (
            {
                "batch_id": latest.get("batch_id"),
                "trigger_execution_ms": latest.get("trigger_execution_ms"),
                "watermark": latest.get("watermark"),
                "state_operators": latest.get("state_operators", []),
            }
            if latest
            else None
        ),
        "latency_reports": [
            {
                "source_id": r.get("source_id"),
                # the Spark engine has no frame-decoding stage (pixels are
                # out of scope); inference + e2e mirror the reference keys
                "inference_latency_ms": r.get("avg_inference_ms"),
                "e2e_latency_ms": r.get("last_latency_ms"),
            }
            for r in rows
        ],
        "sources_metadata": [
            {
                "source_id": r.get("source_id"),
                "fps": r.get("last_fps"),
                "resolution": r.get("resolution"),
            }
            for r in rows
        ],
        "status_updates": [
            {
                "status": u.get("status"),
                "ts": u.get("ts"),
                "message": u.get("message", ""),
            }
            for u in (status_updates or [])[-10:]
        ],
    }


def attach_metrics_listener(spark) -> "ProgressListener":
    """Register a StreamingQueryListener capturing per-batch progress
    (rows/sec, trigger duration, watermark, per-operator state size,
    state commit time and late rows dropped) —
    the watchdog/metrics hook (U4, reference ``interfaces.py:155-228``)."""
    listener = ProgressListener()
    spark.streams.addListener(listener)
    return listener


try:  # StreamingQueryListener import path (PySpark >= 3.4)
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict[str, Any]] = []
            self.started: list[str] = []
            self.terminated: list[str] = []

        def onQueryStarted(self, event) -> None:
            self.started.append(str(event.id))

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.progress.append(
                {
                    "query_id": str(p.id),
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "input_rows_per_second": p.inputRowsPerSecond,
                    "processed_rows_per_second": p.processedRowsPerSecond,
                    "trigger_execution_ms": p.durationMs.get("triggerExecution"),
                    # absent until the query has a watermark
                    "watermark": p.eventTime.get("watermark"),
                    "state_operators": [
                        {
                            "operator": op.operatorName,
                            "num_shuffle_partitions": op.numShufflePartitions,
                            "num_state_store_instances": op.numStateStoreInstances,
                            "num_rows_total": op.numRowsTotal,
                            "memory_used_bytes": op.memoryUsedBytes,
                            "commit_time_ms": op.commitTimeMs,
                            "num_rows_dropped_by_watermark": op.numRowsDroppedByWatermark,
                        }
                        for op in p.stateOperators
                    ],
                }
            )

        def onQueryTerminated(self, event) -> None:
            self.terminated.append(str(event.id))

        def onQueryIdle(self, event) -> None:
            pass

except ImportError:  # pragma: no cover
    ProgressListener = None  # type: ignore[assignment]


__all__ = [
    "EngineConfig",
    "ControlPlane",
    "targeted",
    "attach_metrics_listener",
    "full_metrics_report",
    "ProgressListener",
]
