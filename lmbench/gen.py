"""Seeded input generator for the benchmark, with an on-disk cache.

Builds token tables with the same payload templates as the program's
synthetic corpus (apache 60 % / nginx 25 % / syslog 10 % / unknown 5 %,
one UTF-8 byte per token) from numpy draws, so the inputs depend only on
the seed and the size, never on the code under test.  Tables are written
as parquet with pyarrow; a directory is reused when the same (seed, size)
was generated before and its ``_ok`` marker exists.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_METHODS = ["GET", "GET", "GET", "POST", "PUT", "HEAD"]
_PATHS = ["/cgi-bin/try/", "/index.html", "/api/v1/items", "/static/app.js",
          "/login", "/images/logo.png", "/search?q=spark", "/health"]
_STATUSES = ["200", "200", "200", "200", "301", "304", "400", "404", "500"]
_USERS = ["-", "-", "frank", "alice", "bob"]
_REFERERS = ["-", "http://example.com/start", "http://www.google.com/"]
_AGENTS = ["Mozilla/5.0 (X11; Linux x86_64)", "curl/8.0.1",
           "Mozilla/5.0 (Windows NT 10.0; Win64; x64)"]
_PROTOS = ["TCP", "UDP", "ICMP"]
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def _ip(r) -> str:
    return f"{r[0] % 223 + 1}.{r[1] % 256}.{r[2] % 256}.{r[3] % 254 + 1}"


def _line(kind: int, r) -> str:
    """One payload line from 24 random ints ``r`` (kind: 0 apache,
    1 nginx, 2 syslog, 3 unknown)."""
    pick = lambda opts, k: opts[r[k] % len(opts)]  # noqa: E731
    if kind == 3:
        return f"?? corrupt frame {r[0] % 2**31:x} {r[1] % 2**31:x} ??"
    if kind == 2:
        return (f"<{r[0] % 192}>{pick(_MONTHS, 1)} {r[2] % 28 + 1:2d} "
                f"{r[3] % 24:02d}:{r[4] % 60:02d}:{r[5] % 60:02d} fw01 kernel: "
                f"iptables denied: IN=eth0 OUT= SRC={_ip(r[6:10])} "
                f"DST={_ip(r[10:14])} PROTO={pick(_PROTOS, 14)} "
                f"SPT={r[15] % 65535 + 1} DPT={r[16] % 65535 + 1}")
    head = (f"{_ip(r[0:4])} - {pick(_USERS, 4)} [{r[5] % 28 + 1:02d}/"
            f"{pick(_MONTHS, 6)}/{2006 if kind == 0 else 2016}:"
            f"{r[7] % 24:02d}:{r[8] % 60:02d}:{r[9] % 60:02d} "
            f"{'-0300' if kind == 0 else '+0000'}] "
            f"\"{pick(_METHODS, 10)} {pick(_PATHS, 11)} "
            f"HTTP/1.{0 if kind == 0 else 1}\" {pick(_STATUSES, 12)} "
            f"{r[13] % 100000}")
    if kind == 0:
        return head
    return f"{head} \"{pick(_REFERERS, 14)}\" \"{pick(_AGENTS, 15)}\""


def payloads(rng: np.random.Generator, n: int) -> tuple[list[str], list[str]]:
    """n (line, source) pairs with the corpus source mix."""
    bucket = rng.integers(0, 100, n)
    kinds = np.select([bucket < 60, bucket < 85, bucket < 95], [0, 1, 2], 3)
    draws = rng.integers(0, 2**31, (n, 24)).tolist()
    names = ("apache", "nginx", "syslog", "unknown")
    kinds = kinds.tolist()
    return ([_line(k, r) for k, r in zip(kinds, draws)],
            [names[k] for k in kinds])


def token_arrays(lines: list[str]) -> tuple[pa.ListArray, pa.Int32Array]:
    """lines -> (tokens list<int32> of UTF-8 bytes, n_tok int32)."""
    raw = [s.encode("utf-8") for s in lines]
    lens = np.fromiter((len(b) for b in raw), dtype=np.int32, count=len(raw))
    offsets = np.zeros(len(raw) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    values = np.frombuffer(b"".join(raw), dtype=np.uint8).astype(np.int32)
    return (pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
            pa.array(lens))


def token_table(seed: int, n: int, stream: int = 0,
                doc_ids: list[str] | None = None) -> pa.Table:
    """Deterministic token table of n rows.  ``doc_ids`` overrides the
    generated ids (used for re-delivered rows)."""
    rng = np.random.default_rng([seed, stream])
    lines, sources = payloads(rng, n)
    tokens, n_tok = token_arrays(lines)
    if doc_ids is None:
        doc_ids = [f"doc-{stream:04d}{i:08d}" for i in range(n)]
    return pa.table({"doc_id": pa.array(doc_ids, pa.string()),
                     "tokens": tokens, "n_tok": n_tok,
                     "source": pa.array(sources, pa.string())})


def increments(seed: int, k: int, rows: int, redeliver: float) -> list[pa.Table]:
    """k merge increments of ``rows`` rows each.  Increment i > 0
    re-delivers ``redeliver`` x rows doc_ids drawn from increment i-1 with a
    fresh payload; all rows of increment i carry ``version`` = i."""
    out: list[pa.Table] = []
    n_old = int(round(redeliver * rows))
    for i in range(k):
        ids = [f"doc-{i + 1:04d}{j:08d}" for j in range(rows)]
        if i > 0:
            prev = out[-1].column("doc_id").to_pylist()
            pick = np.random.default_rng([seed, 10_000 + i]).choice(
                len(prev), n_old, replace=False)
            ids[:n_old] = [prev[j] for j in sorted(pick.tolist())]
        t = token_table(seed, rows, stream=i + 1, doc_ids=ids)
        out.append(t.append_column("version", pa.array([i] * rows, pa.int64())))
    return out


def cached(root: str, key: str, build) -> str:
    """Directory ``root/key`` filled by ``build(tmpdir)`` once; later
    calls with the same key reuse it.  Returns the directory."""
    path = os.path.join(root, key)
    if os.path.exists(os.path.join(path, "_ok")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_ok"), "w").close()
    os.replace(tmp, path)
    return path


def write_table(table: pa.Table, directory: str, files: int) -> None:
    """Split ``table`` into ``files`` parquet files under ``directory``."""
    os.makedirs(directory, exist_ok=True)
    step = -(-table.num_rows // files)
    for f in range(files):
        part = table.slice(f * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(directory, f"part-{f:05d}.parquet"))
