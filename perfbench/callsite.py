"""Attribute a Spark job to a graft module by its short call site.

Spark names a job after the first user frame that launched it, e.g.
``collect at BarStore.scala:73``.  The file stem picks the layer:

- ``Tables``, ``RelationCache``, ``BarStore`` and ``StatusServer`` are
  layers of their own (``RunStatusListener`` serves status too);
- ``SinkRetention``, ``EventSink`` and ``Quarantine`` are the
  publishing-and-quarantine layer, reported as ``SinkRetention``;
- ``Serve`` and the ``streaming`` package are ``streaming``;
- every other graft source file builds operators: ``ops``;
- the benchmark harness's own files collect results: ``exec``.

A call site outside graft and the harness (a Spark-internal thread, an
empty name) maps to None; the caller then uses the enclosing span.
"""
import os
import re

LAYERS = {
    "Tables": "Tables",
    "RelationCache": "RelationCache",
    "BarStore": "BarStore",
    "StatusServer": "StatusServer",
    "RunStatusListener": "StatusServer",
    "SinkRetention": "SinkRetention",
    "EventSink": "SinkRetention",
    "Quarantine": "SinkRetention",
    "Serve": "streaming",
}
HARNESS_FILES = {"Analytics", "Ingest", "Main", "Trace"}

_SITE = re.compile(r"\bat\s+([A-Za-z0-9_$]+)\.scala:\d+")


def graft_sources(src_root):
    """Map of file stem -> package directory for every graft source file."""
    out = {}
    for dirpath, _, files in os.walk(src_root):
        for f in files:
            if f.endswith(".scala"):
                out[f[:-6]] = os.path.basename(dirpath)
    return out


def module_of(call_site, sources):
    """Layer for a job whose short call site is ``call_site``.

    ``sources`` maps graft file stems to their package directory, as
    ``graft_sources`` builds it."""
    m = _SITE.search(call_site or "")
    if not m:
        return None
    stem = m.group(1)
    if stem in LAYERS:
        return LAYERS[stem]
    if stem in HARNESS_FILES:
        return "exec"
    if stem in sources:
        return "streaming" if sources[stem] == "streaming" else "ops"
    return None
