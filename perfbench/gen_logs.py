"""Seeded Nginx access-log generator for the log_lake workload.

Writes "combined" format lines (the shape of tests/fixtures/nginx_access.log)
with skewed endpoints and query strings, a 4xx/5xx share, ``-`` byte
fields, and a fixed share of malformed and blank lines. The base log
covers ``days`` consecutive days; each increment adds one new day plus
late arrivals for one earlier day, so a MERGE has to rewrite an old day.

Beside the logs it writes what the program must produce from them:

- ``expected.json``: requests/errors per (date, hour, endpoint) after the
  base log and after every increment, plus the number of lines the
  parser must drop (malformed + blank) per file;
- ``records.parquet``: every well-formed record (file, date, hour,
  endpoint, bytes, status), so p95_bytes can be recomputed in DuckDB.

Output is cached by (seed, size): a second call with the same arguments
returns the existing directory.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from datetime import date, timedelta

import numpy as np

ENDPOINTS = (
    "/api/v1/items",
    "/api/v1/users",
    "/api/v1/orders",
    "/api/v1/search",
    "/api/v1/cart",
    "/api/v2/items",
    "/api/v2/recommendations",
    "/auth/login",
    "/auth/logout",
    "/auth/refresh",
    "/health",
    "/metrics",
    "/static/app.js",
    "/static/app.css",
    "/static/logo.png",
    "/",
    "/docs",
    "/admin",
    "/checkout",
    "/feed.xml",
)
#: Endpoints that carry a query string (stripped by the parser).
_QUERY = {"/api/v1/items": "id", "/api/v1/search": "q", "/api/v1/users": "id",
          "/api/v2/items": "id", "/docs": "page"}
METHODS = ("GET", "GET", "GET", "POST", "PUT", "DELETE")
STATUSES = np.array([200, 201, 204, 301, 304, 400, 401, 403, 404, 429, 500, 502, 503])
STATUS_P = np.array([0.62, 0.04, 0.02, 0.02, 0.12, 0.02, 0.03, 0.01, 0.06, 0.01,
                     0.03, 0.01, 0.01])
AGENTS = ("Mozilla/5.0", "curl/8.1.2", "python-requests/2.31", "Go-http-client/1.1",
          "Mozilla/5.0 (X11; Linux x86_64)")
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct",
          "Nov", "Dec")
FIRST_DAY = date(2025, 11, 1)
#: Shares of lines that are not records.
MALFORMED_SHARE = 0.004
BLANK_SHARE = 0.002
DASH_BYTES_SHARE = 0.05
#: An increment's late lines for an old day, as a share of its new-day lines.
LATE_SHARE = 0.2


def _lines(rng: np.random.Generator, n: int, days: list[date], day_p=None):
    """``n`` records spread over ``days``; returns (lines, records)."""
    ranks = np.arange(1, len(ENDPOINTS) + 1)
    ep_p = 1.0 / ranks**1.1
    ep_idx = rng.choice(len(ENDPOINTS), size=n, p=ep_p / ep_p.sum())
    day_idx = rng.choice(len(days), size=n, p=day_p)
    # Diurnal skew: more traffic in working hours.
    hour_p = np.array([1, 1, 1, 1, 1, 2, 3, 5, 7, 8, 8, 8, 7, 8, 8, 8, 7, 6, 5, 4, 3, 2,
                       2, 1], dtype=float)
    hours = rng.choice(24, size=n, p=hour_p / hour_p.sum())
    minutes = rng.integers(0, 60, size=n)
    seconds = rng.integers(0, 60, size=n)
    status = rng.choice(STATUSES, size=n, p=STATUS_P / STATUS_P.sum())
    nbytes = rng.lognormal(7.0, 1.3, size=n).astype(np.int64)
    dash = rng.random(n) < DASH_BYTES_SHARE
    ips = rng.integers(1, 255, size=(n, 2))
    agents = rng.integers(0, len(AGENTS), size=n)
    methods = rng.integers(0, len(METHODS), size=n)
    qvals = rng.integers(1, 5000, size=n)
    lines, records = [], []
    for i in range(n):
        d = days[day_idx[i]]
        ep = ENDPOINTS[ep_idx[i]]
        path = f"{ep}?{_QUERY[ep]}={qvals[i]}" if ep in _QUERY else ep
        b = 0 if dash[i] else int(nbytes[i])
        h = int(hours[i])
        lines.append(
            f"10.0.{ips[i, 0]}.{ips[i, 1]} - - "
            f"[{d.day:02d}/{MONTHS[d.month - 1]}/{d.year}:{h:02d}:{minutes[i]:02d}:"
            f"{seconds[i]:02d} +0530] \"{METHODS[methods[i]]} {path} HTTP/1.1\" "
            f"{status[i]} {'-' if dash[i] else b} \"-\" \"{AGENTS[agents[i]]}\""
        )
        records.append((d.isoformat(), f"{h:02d}", ep, b, int(status[i])))
    return lines, records


def _junk(rng: np.random.Generator, lines: list[str]) -> tuple[list[str], int]:
    """Insert malformed and blank lines; returns (lines, number inserted)."""
    n_bad = max(1, int(len(lines) * MALFORMED_SHARE))
    n_blank = max(1, int(len(lines) * BLANK_SHARE))
    bad = []
    for i in range(n_bad):
        kind = i % 4
        if kind == 0:
            bad.append("garbage line that does not match the access log grammar")
        elif kind == 1:  # truncated after the request
            bad.append(lines[i % len(lines)].split('" ', 1)[0] + '"')
        elif kind == 2:  # status is not three digits
            bad.append('10.0.0.1 - - [01/Nov/2025:10:00:00 +0530] "GET / HTTP/1.1" '
                       'OK 12 "-" "ua"')
        else:  # missing user-agent field
            bad.append('10.0.0.2 - - [01/Nov/2025:10:00:00 +0530] "GET / HTTP/1.1" 200 5')
    blank = ["" if i % 2 else "   " for i in range(n_blank)]
    junk = bad + blank
    # Junk line j goes before record slots[j] (slots sorted, repeats allowed).
    slots = np.sort(rng.integers(0, len(lines) + 1, size=len(junk)))
    out, k = [], 0
    for i, line in enumerate(lines + [None]):
        while k < len(junk) and slots[k] == i:
            out.append(junk[k])
            k += 1
        if line is not None:
            out.append(line)
    return out, len(junk)


def _write(path: str, lines: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")


def generate(out_root: str, seed: int, base_lines: int, days: int = 7,
             increments: int = 4) -> str:
    """Write the base log and ``increments`` daily increments under
    ``out_root`` and return the data directory. Increment ``i`` carries
    day ``days + i`` and late lines for one earlier day."""
    tag = f"logs-s{seed}-n{base_lines}-d{days}-i{increments}"
    out = os.path.join(out_root, tag)
    if os.path.exists(os.path.join(out, "expected.json")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    base_days = [FIRST_DAY + timedelta(days=k) for k in range(days)]
    counts: Counter = Counter()
    errors: Counter = Counter()
    files, dropped, records = [], {}, []

    def add(name: str, recs, n_junk: int) -> None:
        dropped[name] = n_junk
        files.append(name)
        for d, h, ep, b, st in recs:
            counts[(d, h, ep)] += 1
            errors[(d, h, ep)] += st >= 400
            records.append((name, d, h, ep, b, st))

    def snapshot() -> list:
        return sorted([k[0], k[1], k[2], counts[k], errors[k]] for k in counts)

    lines, recs = _lines(rng, base_lines, base_days)
    lines, n_junk = _junk(rng, lines)
    _write(os.path.join(tmp, "base.log"), lines)
    add("base.log", recs, n_junk)
    after = {"base.log": snapshot()}
    per_inc = max(1, base_lines // days)
    for i in range(increments):
        new_day = FIRST_DAY + timedelta(days=days + i)
        late_day = base_days[int(rng.integers(0, days))]
        n_late = int(per_inc * LATE_SHARE)
        new_lines, new_recs = _lines(rng, per_inc, [new_day])
        late_lines, late_recs = _lines(rng, n_late, [late_day])
        lines, n_junk = _junk(rng, new_lines + late_lines)
        name = f"inc{i:02d}.log"
        _write(os.path.join(tmp, name), lines)
        add(name, new_recs + late_recs, n_junk)
        after[name] = snapshot()

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*records))
    pq.write_table(
        pa.table({
            "file": pa.array(cols[0]),
            "date": pa.array(cols[1]),
            "hour": pa.array(cols[2]),
            "endpoint": pa.array(cols[3]),
            "bytes": pa.array(cols[4], pa.int64()),
            "status": pa.array(cols[5], pa.int32()),
        }),
        os.path.join(tmp, "records.parquet"),
    )
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump({"files": files, "dropped": dropped, "after": after}, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
