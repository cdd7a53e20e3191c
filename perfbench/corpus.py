"""Seeded FDR corpus generator and its independent expected-count model.

The generator cycles the ``sources.sample.FIXTURES`` shapes (every OCSF
class plus the no-discriminator, unmapped, alternate-discriminator and
missing-timestamp edge cases), spreads ``timestamp`` over several event
days, draws agent and host ids from fixed-size pools, and plants blank,
corrupt-JSON and cast-failing lines at fixed shares.

Alongside the gzip files it replays, in plain Python, where every line
must land: which sink or quarantine, on which eventDay, and what the lake
hunting queries must answer.  The replay follows
``plans/ocsf_queries._fixture_class_rows``: the discriminator fallback of
``sources.fdr.parse_fdr_lines``, routing of ``operators.router`` and the
epoch autodetect of ``functions.timeparse``.  It shares only the mapping
table and the fixture shapes with the program, never its code paths.
"""

from __future__ import annotations

import copy
import gzip
import hashlib
import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timezone

from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.ocsf.event_mapping import (
    EVENT_ROWS,
)
from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.sample import (
    FIXTURES,
)

# Sinks in the program's write order; the class name is what the routing
# join attaches (extapi shares HTTP Activity with http_activity).
SINK_CLASSES = {
    "process_activity": "Process Activity",
    "network_activity": "Network Activity",
    "device_config_state": "Device Config State",
    "http_activity": "HTTP Activity",
    "http_activity_extapi": "HTTP Activity",
    "file_system_activity": "File System Activity",
    "dns_activity": "DNS Activity",
    "authentication": "Authentication",
    "file_hosting_activity": "File Hosting Activity",
    "module_activity": "Module Activity",
    "application_lifecycle": "Application Lifecycle",
    "operating_system_patch_state": "Operating System Patch State",
    "detection_finding": "Detection Finding",
}
QUARANTINES = ("cast_failures", "corrupt_lines", "no_discriminator", "unmapped_events")
# OCSF classes whose rows carry a ``device`` struct (device.uid = raw cid)
DEVICE_SINKS = frozenset({
    "process_activity",
    "device_config_state",
    "file_system_activity",
    "module_activity",
    "application_lifecycle",
    "operating_system_patch_state",
    "detection_finding",
})

DAY0_S = 1717977600  # 2024-06-10T00:00:00Z
SENTINEL_MS = 893383659000  # the program's default for a missing timestamp
SECONDS_LIMIT = 253402300800.0  # epoch values at or above this are millis

# Planted defects: a fixed share of all lines each.
BLANK_SHARE = 0.01
CORRUPT_SHARE = 0.01
CAST_FAIL_SHARE = 0.01
CORRUPT_TEXTS = ("{not json at all", '{"event_simpleName": "ProcessRollup2", "aid": ')
# (fixture event name, raw key, value whose lossy cast fails) -> sink
CAST_FAILS = (
    ("NetworkConnectIP4", "RemotePort", "80x", "network_activity"),
    ("ProcessRollup2", "RawProcessId", "12a", "process_activity"),
    ("UserLogon", "RawProcessId", "pid?", "authentication"),
)


@dataclass
class CorpusSpec:
    """Generator parameters; every one is recorded with the workload."""

    lines: int
    files: int
    days: int = 4
    hosts: int = 16
    agents: int = 64
    hashes: int = 8
    dst_ips: int = 12
    unmapped_values: int = 6


@dataclass
class Expected:
    """Where every generated line must land, and the lake answers."""

    lines_in: int = 0
    bytes_in: int = 0
    blank: int = 0
    sinks: Counter = field(default_factory=Counter)
    quarantines: Counter = field(default_factory=Counter)
    sink_days: Counter = field(default_factory=Counter)  # (sink, eventDay)
    class_days: Counter = field(default_factory=Counter)  # (class, eventDay)
    device_day: Counter = field(default_factory=Counter)  # (cid, day, class)
    sha_rows: Counter = field(default_factory=Counter)  # process_activity
    dst_ips: Counter = field(default_factory=Counter)  # network_activity
    unmapped_vals: Counter = field(default_factory=Counter)  # process_activity
    params: dict = field(default_factory=dict)  # seeded query parameters

    def rows(self) -> Counter:
        """Expected rows per sink and per quarantine."""
        return self.sinks + self.quarantines

    def conserved(self) -> bool:
        return self.lines_in == sum(self.rows().values()) + self.blank


_MAPPING = {r[0]: r for r in EVENT_ROWS}
_CLASS_TO_SINK = {
    cls: key for key, cls in SINK_CLASSES.items() if key != "http_activity_extapi"
}


def _day(ms: int) -> str:
    return datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc).strftime("%Y%m%d")


def _millis(ts: str) -> int:
    d = float(ts)
    return int((d / 1000.0 if d >= SECONDS_LIMIT else d) * 1000 // 1)


def _name(e: dict) -> str | None:
    for k in ("event_simpleName", "event_type", "EventType"):
        if e.get(k) is not None:
            return e[k]
    return None


class Generator:
    """Seeded line source: one instance per corpus, so the pools and the
    planted lines depend only on the seed."""

    def __init__(self, seed: int, spec: CorpusSpec):
        self.rng = random.Random(seed)
        self.spec = spec
        pool = lambda tag, n: [  # noqa: E731
            hashlib.md5(f"{seed}-{tag}-{i}".encode()).hexdigest() for i in range(n)
        ]
        self.hosts = pool("host", spec.hosts)
        self.agents = pool("agent", spec.agents)
        self.hashes = [
            hashlib.sha256(f"{seed}-sha-{i}".encode()).hexdigest()
            for i in range(spec.hashes)
        ]
        self.ips = [f"203.0.{seed % 200}.{i + 1}" for i in range(spec.dst_ips)]
        self.values = [f"v{seed % 97}-{i}" for i in range(spec.unmapped_values)]
        self.fixtures = [copy.deepcopy(f) for f in FIXTURES]
        self.cast_fixtures = {
            n: next(f for f in self.fixtures if _name(f) == n) for n, *_ in CAST_FAILS
        }
        self.seq = 0

    def _event(self, base: dict) -> dict:
        r = self.rng
        e = copy.deepcopy(base)
        day = r.randrange(self.spec.days)
        off_ms = day * 86_400_000 + r.randrange(86_400_000)
        if "timestamp" in e:
            if len(e["timestamp"]) > 10:
                e["timestamp"] = str(DAY0_S * 1000 + off_ms)
            else:
                e["timestamp"] = str(DAY0_S + off_ms // 1000)
        if e.get("UTCTimestamp"):
            e["UTCTimestamp"] = str(DAY0_S + off_ms // 1000)
        if e.get("cid"):
            e["cid"] = r.choice(self.hosts)
        if e.get("aid") and len(e["aid"]) == 32:
            e["aid"] = r.choice(self.agents)
        if "id" in e:
            e["id"] = f"evt-{self.seq}"
        name = _name(e)
        if name == "ProcessRollup2":
            e["SHA256HashData"] = r.choice(self.hashes)
            e["SomeUnmappedKey"] = r.choice(self.values)
        elif name == "NetworkConnectIP4":
            # skewed: low indexes are hot, so the top-N has a clear order
            e["RemoteAddressIP4"] = self.ips[min(int(r.expovariate(0.35)), len(self.ips) - 1)]
        return e

    def line(self) -> tuple[str, dict | None, str | None]:
        """(text, parsed event or None, planted cast-fail sink or None)."""
        r = self.rng
        self.seq += 1
        u = r.random()
        if u < BLANK_SHARE:
            return r.choice(("", "   ")), None, None
        if u < BLANK_SHARE + CORRUPT_SHARE:
            return r.choice(CORRUPT_TEXTS), None, None
        if u < BLANK_SHARE + CORRUPT_SHARE + CAST_FAIL_SHARE:
            name, key, bad, sink = CAST_FAILS[r.randrange(len(CAST_FAILS))]
            e = self._event(self.cast_fixtures[name])
            e[key] = bad
            return json.dumps(e), e, sink
        e = self._event(self.fixtures[self.seq % len(self.fixtures)])
        return json.dumps(e), e, None


def expect_line(exp: Expected, text: str, e: dict | None, cast_sink: str | None) -> None:
    """Replay one line's routing into ``exp``."""
    exp.lines_in += 1
    if not text.strip(" "):
        exp.blank += 1
        return
    if e is None:
        exp.quarantines["corrupt_lines"] += 1
        return
    name = _name(e)
    if name is None:
        exp.quarantines["no_discriminator"] += 1
        return
    if name not in _MAPPING:
        exp.quarantines["unmapped_events"] += 1
        return
    if cast_sink is not None:
        exp.quarantines["cast_failures"] += 1
        return
    if name == "Event_ExternalApiEvent":
        sink, ms = "http_activity_extapi", _millis(e["UTCTimestamp"])
    else:
        sink = _CLASS_TO_SINK[_MAPPING[name][4]]
        ms = _millis(e["timestamp"]) if "timestamp" in e else SENTINEL_MS
    day = _day(ms)
    cls = SINK_CLASSES[sink]
    exp.sinks[sink] += 1
    exp.sink_days[(sink, day)] += 1
    exp.class_days[(cls, day)] += 1
    if sink in DEVICE_SINKS and "cid" in e:
        exp.device_day[(e["cid"], day, cls)] += 1
    if sink == "process_activity" and e.get("SHA256HashData"):
        exp.sha_rows[e["SHA256HashData"]] += 1
    if sink == "process_activity" and "SomeUnmappedKey" in e:
        exp.unmapped_vals[e["SomeUnmappedKey"]] += 1
    if sink == "network_activity":
        ip = e.get("RemoteAddressIP4") or e.get("RemoteAddressIP6")
        if ip:
            exp.dst_ips[ip] += 1


def write_corpus(
    out_dir: str,
    seed: int,
    spec: CorpusSpec,
    *,
    stage_dir: str | None = None,
    query_seed: int | None = None,
) -> Expected:
    """Write ``spec.files`` gzip NDJSON files under ``out_dir`` and return
    the expected routing.  With ``stage_dir`` each file is written there
    and moved into ``out_dir`` by one atomic rename.  The hunting-query
    parameters are drawn from ``query_seed`` when given, else from
    ``seed``."""
    for d in (out_dir, stage_dir):
        if d:
            os.makedirs(d, exist_ok=True)
    gen = Generator(seed, spec)
    exp = Expected()
    per = [spec.lines // spec.files + (i < spec.lines % spec.files) for i in range(spec.files)]
    for i, n in enumerate(per):
        texts = []
        for _ in range(n):
            text, e, cast_sink = gen.line()
            expect_line(exp, text, e, cast_sink)
            texts.append(text)
        name = f"fdr-{seed}-{i:05d}.json.gz"
        path = os.path.join(stage_dir or out_dir, name)
        with gzip.open(path, "wt", encoding="utf-8", compresslevel=6) as fh:
            fh.write("\n".join(texts) + "\n")
        exp.bytes_in += os.path.getsize(path)
        if stage_dir:
            os.rename(path, os.path.join(out_dir, name))
    exp.params = query_params(
        gen, exp, random.Random(gen.rng.random() if query_seed is None else query_seed)
    )
    return exp


def query_params(gen: Generator, exp: Expected, r: random.Random) -> dict:
    """Seeded choices for the parameterised hunting queries."""
    hot = sorted({k[:2] for k in exp.device_day if k[0] and k[1] != _day(SENTINEL_MS)})
    cid, day = r.choice(hot) if hot else (gen.hosts[0], _day(DAY0_S * 1000))
    return {
        "cid": cid,
        "day": day,
        "sha": r.choice(gen.hashes),
        "unmapped_key": "SomeUnmappedKey",
        "unmapped_value": r.choice(gen.values),
        "top_n": 5,
    }
