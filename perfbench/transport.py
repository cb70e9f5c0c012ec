"""In-process deterministic dataselect transport for the download workload.

The benchmark points ``dataselect_url`` at ``http://bench.invalid/<seed>/query``;
the pipeline appends ``?cha=<channel id>&ev=<event id>``. ``serve`` answers
from ``gen.planned_code``: 404, an undecodable 200 body, or a miniSEED
record. No sleeps, no sockets. Resolved by dotted path on the Spark
workers, so it keeps no state beyond the per-process blob pool cache.
"""

from __future__ import annotations

from urllib.parse import parse_qs, urlsplit

from perfbench import gen

BASE = "http://bench.invalid"


def base_url(seed: int) -> str:
    return f"{BASE}/{seed}/query"


def serve(url: str, body) -> tuple[bytes | None, int]:
    parts = urlsplit(url)
    seed = int(parts.path.strip("/").split("/")[0])
    q = parse_qs(parts.query)
    cha, ev = int(q["cha"][0]), int(q["ev"][0])
    code = gen.planned_code(seed, cha, ev)
    if code == 404:
        return None, 404
    if code == gen.DECODE_ERR_CODE:
        return gen.UNDECODABLE_BLOB, 200
    return gen.served_blob(seed, cha, ev), 200
