"""Independent output references, computed without Spark.

Each reference is one single-process pass over the generated inputs with
pyarrow and Python ``re``.  The rules and the status map below are the
benchmark's own copy of what the workloads ask the program to do, so a
change to the program's built-in rule set shows up as a mismatch.

The ``check_*`` functions return a list of mismatch descriptions; an
empty list means the output matches.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import re
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

RULES = [
    ("nginx_access_log", re.compile(
        r'(?P<remote_ip>\d+\.\d+\.\d+\.\d+)\s+-\s+(?P<user>\S+)\s+'
        r'\[(?P<datetime>[^\]]+)\]\s+"(?P<method>\w+) (?P<url>\S+) HTTP/1\.1"\s+'
        r'(?P<http_status>\d+)\s+(?P<bytes_send>\d+)\s+'
        r'"(?P<referer>[^"]*)"\s+"(?P<user_agent>[^"]*)"')),
    ("httpd_access_log", re.compile(
        r'(?P<remote_ip>\d+\.\d+\.\d+\.\d+)\s+-\s+(?P<user>\S+)\s+'
        r'\[(?P<datetime>[^\]]+)\]\s+"(?P<method>\w+) (?P<url>\S+) HTTP/1\.0"\s+'
        r'(?P<http_status>\d+)\s+(?P<bytes_send>\d+)')),
    ("iptables_log", re.compile(
        r'<(?P<syslog_prival>\d+)>(?P<log_timestamp>\w+ +\d+ \d+:\d+:\d+) '
        r'(?P<host>\S+) kernel: iptables (?P<iptables_action>\w+): '
        r'IN=(?P<iptables_in>\S*) OUT=(?P<iptables_out>\S*) '
        r'SRC=(?P<iptables_src>\S+) DST=(?P<iptables_dst>\S+) '
        r'PROTO=(?P<iptables_proto>\S+) SPT=(?P<iptables_spt>\d+) '
        r'DPT=(?P<iptables_dpt>\d+)')),
]
STATUS_CLASS = {"100": "informational", "200": "success", "301": "redirect",
                "304": "redirect", "400": "client_error",
                "404": "client_error", "500": "server_error"}
WEB = ("httpd_access_log", "nginx_access_log")


def sink_of(event_type: str) -> str:
    if event_type in WEB:
        return "web"
    return "firewall" if event_type == "iptables_log" else "unmatched"


def lines(table: pa.Table) -> list[str]:
    """The UTF-8 line each row's tokens spell."""
    col = table.column("tokens").combine_chunks()
    offs = col.offsets.to_numpy().tolist()
    data = col.values.to_numpy().astype(np.uint8).tobytes()
    return [data[a:b].decode("utf-8") for a, b in zip(offs, offs[1:])]


def classify(line: str) -> tuple[str, str | None]:
    """(event_type, http_status) under first-match-wins."""
    for name, rx in RULES:
        m = rx.search(line)
        if m:
            return name, m.groupdict().get("http_status")
    return "Unknown", None


def row_hash(doc_id: str, tokens) -> int:
    h = hashlib.blake2b(doc_id.encode() + b"\0" + bytes(tokens), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def digest(doc_ids, token_lists) -> int:
    """Order-independent digest of (doc_id, tokens) pairs."""
    return sum(row_hash(d, t) for d, t in zip(doc_ids, token_lists)) % 2**64


# ------------------------------------------------------------ agg_flagship

def agg_reference(table: pa.Table) -> dict:
    """(sink, event_type, status_class) -> [rows, tokens]."""
    ref: dict = {}
    for line, n in zip(lines(table), table.column("n_tok").to_pylist()):
        et, status = classify(line)
        key = (sink_of(et), et, STATUS_CLASS.get(status) if status else None)
        acc = ref.setdefault(key, [0, 0])
        acc[0] += 1
        acc[1] += n
    return ref


def check_agg(rows: list[tuple], ref: dict) -> list[str]:
    """rows: (sink, event_type, status_class, n_rows, sum_tok) tuples."""
    got: dict = {}
    for sink, et, sc, n, tok in rows:
        if (sink, et, sc) in got:
            return [f"duplicate group {(sink, et, sc)}"]
        got[(sink, et, sc)] = [n, tok]
    return [f"group {k}: got {got.get(k)} want {ref.get(k)}"
            for k in sorted(set(got) | set(ref), key=repr)
            if got.get(k) != ref.get(k)]


# ------------------------------------------------------------ yaml_routed

def routed_reference(table: pa.Table) -> dict:
    """Per sink: rows, tokens and digest; plus the text sink's lines."""
    ref = {s: {"rows": 0, "tokens": 0, "digest": 0}
           for s in ("web", "firewall", "unmatched")}
    text = Counter()
    for d, t, n, line in zip(table.column("doc_id").to_pylist(),
                             table.column("tokens").to_pylist(),
                             table.column("n_tok").to_pylist(), lines(table)):
        sink = sink_of(classify(line)[0])
        acc = ref[sink]
        acc["rows"] += 1
        acc["tokens"] += n
        acc["digest"] = (acc["digest"] + row_hash(d, t)) % 2**64
        if sink == "unmatched":
            text[f"{d} {n}"] += 1
    del ref["unmatched"]["digest"]   # the text sink keeps no token arrays
    return {"sinks": ref, "unmatched_lines": text}


def read_parquet_sink(path: str) -> pa.Table:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "tokens", "n_tok"])


def read_text_sink(path: str) -> Counter:
    out = Counter()
    for name in sorted(os.listdir(path)):
        if name.startswith(("_", ".")):
            continue
        opener = gzip.open if name.endswith(".gz") else open
        with opener(os.path.join(path, name), "rt") as f:
            out.update(line.rstrip("\n") for line in f if line.strip())
    return out


def routed_observed(tables: dict[str, pa.Table], text: Counter) -> dict:
    sinks = {}
    for name, t in tables.items():
        sinks[name] = {"rows": t.num_rows,
                       "tokens": sum(t.column("n_tok").to_pylist()),
                       "digest": digest(t.column("doc_id").to_pylist(),
                                        t.column("tokens").to_pylist())}
    sinks["unmatched"] = {"rows": sum(text.values()),
                          "tokens": sum(int(k.rsplit(" ", 1)[1]) * v
                                        for k, v in text.items())}
    return {"sinks": sinks, "unmatched_lines": text}


def read_routed(base: str) -> dict:
    """Read the three sinks of the routed pipeline back from disk."""
    tables = {s: read_parquet_sink(os.path.join(base, s))
              for s in ("web", "firewall")}
    return routed_observed(tables, read_text_sink(os.path.join(base, "unmatched")))


def check_routed(observed: dict, ref: dict) -> list[str]:
    bad = [f"sink {s}: got {observed['sinks'].get(s)} want {want}"
           for s, want in ref["sinks"].items()
           if observed["sinks"].get(s) != want]
    if observed["unmatched_lines"] != ref["unmatched_lines"]:
        bad.append("text sink 'unmatched': doc_id/n_tok lines differ")
    return bad


# ------------------------------------------------------------ merge_ingest

def merge_reference(increments: list[pa.Table]) -> dict:
    """doc_id -> (version, row hash) of its latest delivery."""
    ref: dict = {}
    for t in increments:
        for d, tok, v in zip(t.column("doc_id").to_pylist(),
                             t.column("tokens").to_pylist(),
                             t.column("version").to_pylist()):
            if d not in ref or v >= ref[d][0]:
                ref[d] = (v, row_hash(d, tok))
    return ref


def check_merge(snapshot: pa.Table, ref: dict) -> list[str]:
    got: dict = {}
    for d, tok, v in zip(snapshot.column("doc_id").to_pylist(),
                         snapshot.column("tokens").to_pylist(),
                         snapshot.column("version").to_pylist()):
        if d in got:
            return [f"doc_id {d} appears twice in the snapshot"]
        got[d] = (v, row_hash(d, tok))
    bad = []
    if len(got) != len(ref):
        bad.append(f"snapshot rows: got {len(got)} want {len(ref)}")
    wrong = [d for d in ref if got.get(d) != ref[d]]
    if wrong:
        bad.append(f"{len(wrong)} doc_ids not at their latest version, "
                   f"e.g. {wrong[0]}")
    return bad
