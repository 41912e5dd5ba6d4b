"""Prometheus-style counters for the serving path.

Mirrors the reference's metrics registry (internal/metrics/metrics.go:13-71,
served from main.go:85): producer request/byte counters, consumer serve
counters, active-consumer gauge, and a poll-latency summary. Rendered in
the Prometheus text exposition format by :meth:`Metrics.render` and served
at ``GET /metrics`` by :class:`polar_spark.rest.PolarRestServer`.

Counter names keep the reference's ``polar_producer_*`` prefixes where a
1:1 metric exists and add ``_consumer_`` series for the poll path (the
reference counts consumer activity via gauges; a Spark facade also wants
monotonic served-message counters for rate() queries).
"""

from __future__ import annotations

import threading


def value_bytes(values) -> int:
    """UTF-8 byte total of an Arrow string column (nulls count 0) — the
    producer byte counter's unit, shared with the poll byte budget."""
    import pyarrow.compute as pc

    return pc.sum(pc.binary_length(values)).as_py() or 0


class Metrics:
    """Thread-safe counter/gauge/summary registry.

    All mutation is O(1) under one lock — the serving path increments a
    handful of counters per HTTP request, never per record (record counts
    arrive pre-aggregated from the produce/poll jobs).
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        # name -> { labels(frozen tuple of kv pairs) -> float }
        self._series: dict[str, dict[tuple, float]] = {}
        self._types: dict[str, str] = {}  # name -> counter | gauge

    # -- primitive ops -----------------------------------------------------
    def inc(self, name: str, labels: dict[str, str] | None = None, v: float = 1.0):
        key = tuple(sorted((labels or {}).items()))
        with self._lock:
            self._types.setdefault(name, "counter")
            s = self._series.setdefault(name, {})
            s[key] = s.get(key, 0.0) + v

    def set(self, name: str, labels: dict[str, str] | None = None, v: float = 0.0):
        key = tuple(sorted((labels or {}).items()))
        with self._lock:
            self._types[name] = "gauge"  # set() implies non-monotonic
            self._series.setdefault(name, {})[key] = v

    def observe(self, name: str, v: float, labels: dict[str, str] | None = None):
        """Summary: maintains ``{name}_count`` and ``{name}_sum``."""
        self.inc(f"{name}_count", labels, 1.0)
        self.inc(f"{name}_sum", labels, v)

    def get(self, name: str, labels: dict[str, str] | None = None) -> float:
        key = tuple(sorted((labels or {}).items()))
        with self._lock:
            return self._series.get(name, {}).get(key, 0.0)

    # -- serving-path hooks ------------------------------------------------
    def on_produce(self, topic: str, messages: int, body_bytes: int) -> None:
        """Producer counters (reference polar_producer_requests_total /
        polar_producer_requests_body_bytes_total + coalescer message
        count, internal/metrics/metrics.go:13-27)."""
        self.inc("polar_producer_requests_total", {"topic": topic})
        self.inc("polar_coalescer_messages_total", {"topic": topic}, messages)
        self.inc(
            "polar_producer_requests_body_bytes_total", {"topic": topic}, body_bytes
        )

    def on_poll(self, group: str, topic: str, messages: int, body_bytes: int) -> None:
        self.inc(
            "polar_consumer_messages_served_total",
            {"group": group, "topic": topic},
            messages,
        )
        self.inc(
            "polar_consumer_bytes_served_total",
            {"group": group, "topic": topic},
            body_bytes,
        )

    # -- exposition --------------------------------------------------------
    @staticmethod
    def _escape(v: str) -> str:
        """Prometheus label-value escaping (backslash, quote, newline) —
        topic names are caller-controlled strings."""
        return v.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")

    def render(self) -> str:
        """Prometheus text exposition format (one line per sample).
        Series written with set() expose as gauges (they can decrease —
        typing them counter would make rate() see resets); inc()/observe
        series are counters."""
        lines: list[str] = []
        with self._lock:
            for name in sorted(self._series):
                lines.append(f"# TYPE {name} {self._types.get(name, 'counter')}")
                for key, val in sorted(self._series[name].items()):
                    if key:
                        lbl = ",".join(f'{k}="{self._escape(v)}"' for k, v in key)
                        lines.append(f"{name}{{{lbl}}} {val}")
                    else:
                        lines.append(f"{name} {val}")
        return "\n".join(lines) + "\n"
