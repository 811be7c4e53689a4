"""Seeded input generator for the benchmark.

Everything the engine receives is made here from `--seed` alone: the
`pages` table (url, warc_ts, html, text, lang) with OpenAIR payloads
between the engine's sentinel lines, and the point layers probed by the
joins. The payload of every page is also returned as ground truth for
the extraction check; the engine never sees it.

The payload grammar follows SURVEY.md section 1: polygons, circles, arcs
by angle (DA) and by coordinates (DB) in both directions (V D=+/-),
single-centre arc blocks, arc-first blocks, airways (V W= + DY), inline
comments, skipped tokens and a few percent of malformed blocks.

Which pages are empty, how many blocks a page holds, and each block's
kind and size are stratified draws (`Stratified`): every seed gives the
same mix and nearly the same total work, at different places, so a
workload's times move with the program and the host, not with the seed.
"""

from __future__ import annotations

import math
import random
from datetime import datetime, timedelta, timezone

import numpy as np

# the engine's sentinel lines (spark.extract matches them exactly)
BEGIN = "-----BEGIN OPENAIR-----"
END = "-----END OPENAIR-----"

_LANGS = ["en", "de", "fr", "it", "es"]
_WORDS = ("aviation notice chart sector frequency glider soaring terrain "
          "valley ridge thermal airfield runway circuit altitude weather "
          "briefing pilot boundary restricted danger control zone").split()
_CLASSES = ["A", "B", "C", "D", "E", "F", "G", "UNC"]
_TYPES = ["TMA", "CTR", "CTA", "ATZ", "RMZ", "TMZ", "TRA", "TSA", "P", "Q", "R"]
_SKIPPED = ["SP 0,1,0,0,255", "SB 255,255,255", "TO 2000ft", "TC 1500ft",
            "V Z=5"]

# block kinds with their share of generated blocks. The shares, the
# 4-24 vertices per polygon and the radius ranges in setup.json are
# assumptions, not measured from an OpenAIR corpus: they make every
# grammar path a few percent of the blocks or more, polygons the most
# common, and per-ring cover sizes spread about 100x.
_KINDS = [
    ("polygon", 0.36), ("circle", 0.14), ("arc_angle", 0.12),
    ("arc_coords", 0.12), ("single_vx", 0.06), ("arc_first", 0.08),
    ("airway", 0.12),
]
MALFORMED_SHARE = 0.03
EMPTY_SHARE = 0.2

# steps of the stratified draws below: irrational and independent over
# the rationals, so the streams are jointly equidistributed
_STEPS = {"empty": math.sqrt(7) - 2, "count": math.sqrt(2) - 1,
          "kind": math.sqrt(3) - 1, "size": (math.sqrt(5) - 1) / 2}


class Stratified:
    """Low-discrepancy stand-in for rng.random(): a Kronecker sequence
    from a seeded start. Each draw is uniform on [0, 1) over seeds, but
    any run of draws covers [0, 1) evenly, so per-seed totals (payload
    pages, blocks, block kinds, summed polygon area) barely move with the
    seed and a workload's cost does not depend on which seed it runs."""

    def __init__(self, rng: random.Random, step: float):
        self.u, self.step = rng.random(), step

    def __call__(self) -> float:
        self.u = (self.u + self.step) % 1.0
        return self.u


def _axis(value: float, width: int, pos: str, neg: str) -> str:
    total = int(round(abs(value) * 3600.0))
    d, m, s = total // 3600, (total // 60) % 60, total % 60
    return f"{d:0{width}d}:{m:02d}:{s:02d} {pos if value >= 0 else neg}"


def dms(lat: float, lon: float) -> str:
    return f"{_axis(lat, 2, 'N', 'S')} {_axis(lon, 3, 'E', 'W')}"


def _offset(lat: float, lon: float, r_deg: float, bearing: float):
    """Point at bearing (deg, clockwise from north) and r_deg degrees of
    latitude from (lat, lon) on a local flat projection."""
    b = math.radians(bearing)
    return (lat + r_deg * math.cos(b),
            lon + r_deg * math.sin(b) / math.cos(math.radians(lat)))


def _comment(rng: random.Random, line: str) -> str:
    return f"{line} * {rng.choice(_WORDS)}" if rng.random() < 0.15 else line


def _header(rng: random.Random, name: str, cls: str | None = None,
            typ: str | None = None) -> list[str]:
    lines = [f"AC {cls or rng.choice(_CLASSES)}",
             f"AY {typ or rng.choice(_TYPES)}",
             f"AN {name}"]
    if rng.random() < 0.3:
        lines += [f"AF {rng.randint(118, 136)}.{rng.randint(0, 199) * 5:03d}",
                  f"AG {rng.choice(_WORDS).upper()} INFO"]
    lower = rng.randint(0, 40) * 100
    lines += [f"AH FL{rng.randint(60, 195)}",
              "AL GND" if lower == 0 else f"AL {lower}ft AMSL"]
    if rng.random() < 0.15:
        lines.insert(1, rng.choice(_SKIPPED))
    if rng.random() < 0.2:
        lines.insert(0, f"* {rng.choice(_WORDS)} {rng.choice(_WORDS)}")
    return lines


def star_ring(rng: random.Random, lat: float, lon: float, r_deg: float,
              n: int) -> list[tuple[float, float]]:
    """Angle-sorted vertices around a centre: always a simple ring."""
    step = 360.0 / n
    out = []
    for i in range(n):
        bearing = i * step + rng.uniform(0.15, 0.85) * step
        out.append(_offset(lat, lon, r_deg * rng.uniform(0.6, 1.0), bearing))
    return out


def _geometry(rng: random.Random, kind: str, lat: float, lon: float,
              r: float) -> list[str]:
    if kind == "polygon":
        pts = star_ring(rng, lat, lon, r, rng.randint(4, 24))
        return [_comment(rng, f"DP {dms(*p)}") for p in pts + [pts[0]]]
    if kind == "circle":
        return [f"V X={dms(lat, lon)}", f"DC {max(r * 60.0, 0.8):.1f}"]
    a0 = rng.uniform(0.0, 360.0)
    sweep = rng.uniform(60.0, 300.0)
    cw = rng.random() < 0.5
    a1 = (a0 + sweep) % 360.0 if cw else (a0 - sweep) % 360.0
    direction = "V D=+" if cw else "V D=-"
    centre = f"V X={dms(lat, lon)}"
    if kind == "arc_angle":
        return [f"DP {dms(lat, lon)}", direction, centre,
                f"DA {r * 60.0:.1f},{a0:.0f},{a1:.0f}", f"DP {dms(lat, lon)}"]
    p0, p1 = _offset(lat, lon, r, a0), _offset(lat, lon, r, a1)
    if kind == "arc_coords":
        return [f"DP {dms(lat, lon)}", direction, centre,
                f"DB {dms(*p0)}, {dms(*p1)}", f"DP {dms(lat, lon)}"]
    if kind == "single_vx":
        # the only vertex sits in the arc's gap, so both chords stay clear
        gap = a0 - (360.0 - sweep) / 2 if cw else a0 + (360.0 - sweep) / 2
        q = dms(*_offset(lat, lon, r / 2, gap))
        return [f"DP {q}", direction, centre,
                f"DA {r * 60.0:.1f},{a0:.0f},{a1:.0f}", f"DP {q}"]
    if kind == "arc_first":
        return [direction, centre, f"DB {dms(*p0)}, {dms(*p1)}",
                _comment(rng, f"DP {dms(lat, lon)}"), f"DP {dms(*p0)}"]
    if kind == "airway":
        pts = [(lat, lon)]
        heading = rng.uniform(0.0, 360.0)
        for _ in range(rng.randint(1, 4)):
            heading += rng.uniform(-50.0, 50.0)
            pts.append(_offset(*pts[-1], r * rng.uniform(0.8, 1.6), heading))
        return [f"V W={rng.randint(2, 10)}"] + [f"DY {dms(*p)}" for p in pts]
    raise ValueError(kind)


def _malformed(rng: random.Random, name: str, lat: float, lon: float,
               r: float) -> str:
    """A block the parser must reject (one error row for its url)."""
    pts = star_ring(rng, lat, lon, r, 6)
    ring = [f"DP {dms(*p)}" for p in pts + [pts[0]]]
    head = _header(rng, name)
    flavour = rng.randrange(4)
    if flavour == 0:  # lower limit above upper limit
        head = [h for h in head if not h.startswith(("AH", "AL"))]
        head += ["AH 1000ft AMSL", "AL FL100"]
    elif flavour == 1:  # latitude out of range
        ring[1] = "DP 95:00:00 N 008:00:00 E"
    elif flavour == 2:  # required AN token missing
        head = [h for h in head if not h.startswith("AN")]
    else:  # bow-tie: a self-intersecting ring
        a, b, c, d = (_offset(lat, lon, r, x) for x in (45, 135, 315, 225))
        ring = [f"DP {dms(*p)}" for p in (a, b, c, d, a)]
    return "\n".join(head + ring)


def log_uniform(rng: random.Random, lo: float, hi: float) -> float:
    return math.exp(rng.uniform(math.log(lo), math.log(hi)))


def block(rng: random.Random, name: str, extent, r_range, u_kind: float,
          u_size: float) -> str:
    """One block at a random place; its kind and its log-uniform size
    are the quantiles `u_kind` and `u_size`."""
    west, south, east, north = extent
    lat, lon = rng.uniform(south, north), rng.uniform(west, east)
    lo, hi = math.log(r_range[0]), math.log(r_range[1])
    r = math.exp(lo + u_size * (hi - lo))
    if rng.random() < MALFORMED_SHARE:
        return _malformed(rng, name, lat, lon, r)
    x, acc = u_kind, 0.0
    for kind, share in _KINDS:
        acc += share
        if x < acc:
            break
    geom = _geometry(rng, kind, lat, lon, r)
    if rng.random() < 0.15:
        geom.append(rng.choice(_SKIPPED))
    return "\n".join(_header(rng, name) + geom)


def stacked_block(rng: random.Random, name: str, lat: float, lon: float,
                  r: float) -> str:
    """A CTR/TMA polygon stacked over a hot spot."""
    pts = star_ring(rng, lat + rng.gauss(0, r / 8), lon + rng.gauss(0, r / 8),
                    r, rng.randint(6, 40))
    head = _header(rng, name, typ=rng.choice(["CTR", "TMA"]))
    return "\n".join(head + [f"DP {dms(*p)}" for p in pts + [pts[0]]])


def mega_block(rng: random.Random, name: str, lat: float, lon: float,
               r: float, n_vertices: int) -> str:
    """A FIR-sized polygon with thousands of vertices."""
    pts = star_ring(rng, lat, lon, r, n_vertices)
    head = _header(rng, name, cls="G", typ="FIR")
    return "\n".join(head + [f"DP {dms(*p)}" for p in pts + [pts[0]]])


def _page(rng: random.Random, seed: int, i: int, payload: str | None) -> dict:
    def noise() -> str:
        return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(20, 60))) + "."

    parts = [noise()]
    if payload is not None:
        parts += [BEGIN, payload, END]
    parts.append(noise())
    text = "\n".join(parts)
    return {
        "url": f"https://aip.example/{seed}/{i:06d}",
        "warc_ts": datetime(2025, 1, 1, tzinfo=timezone.utc) + timedelta(seconds=97 * i),
        "html": f"<html><body><pre>{text}</pre></body></html>".encode(),
        "text": text,
        "lang": _LANGS[i % len(_LANGS)],
    }


def pages(seed: int, spec: dict) -> tuple[list[dict], dict]:
    """Page rows plus {url: payload} ground truth for payload pages.

    spec keys: n_pages, extent [w, s, e, n], radius_deg [lo, hi], and
    for hostile inputs hot_spots [[lat, lon], ...], stacked_per_spot,
    stacked_radius_deg [lo, hi], mega [[lat, lon, r_deg, n_vertices]].
    """
    rng = random.Random(seed * 7919 + 1)
    u = {name: Stratified(rng, step) for name, step in _STEPS.items()}
    payloads: list[str | None] = []
    for i in range(spec["n_pages"]):
        if u["empty"]() < EMPTY_SHARE:
            payloads.append(None)
            continue
        payloads.append("\n\n".join(
            block(rng, f"SYN {i}-{b}", spec["extent"], spec["radius_deg"],
                  u["kind"](), u["size"]())
            for b in range(1 + int(3 * u["count"]()))))
    for s, (lat, lon) in enumerate(spec.get("hot_spots", [])):
        for k in range(spec["stacked_per_spot"]):
            r = log_uniform(rng, *spec["stacked_radius_deg"])
            payloads.append(stacked_block(rng, f"HOT {s}-{k}", lat, lon, r))
    for m, (lat, lon, r, nv) in enumerate(spec.get("mega", [])):
        payloads.append(mega_block(rng, f"FIR {m}", lat, lon, r, nv))
    rows = [_page(rng, seed, i, p) for i, p in enumerate(payloads)]
    truth = {row["url"]: p for row, p in zip(rows, payloads) if p is not None}
    return rows, truth


def points(seed: int, n: int, extent, hot_spots=(), hot_share: float = 0.0,
           hot_sigma_deg: float = 0.05) -> dict:
    """Point layer (point_id, lat, lon, value): uniform over `extent`,
    with `hot_share` of the points in gaussians around `hot_spots`."""
    rng = np.random.default_rng(seed * 104729 + 7)
    west, south, east, north = extent
    lat = rng.uniform(south, north, n)
    lon = rng.uniform(west, east, n)
    n_hot = int(n * hot_share) if len(hot_spots) else 0
    if n_hot:
        spots = np.asarray(hot_spots, dtype=np.float64)
        which = rng.integers(0, len(spots), n_hot)
        lat[:n_hot] = spots[which, 0] + rng.normal(0.0, hot_sigma_deg, n_hot)
        lon[:n_hot] = spots[which, 1] + rng.normal(0.0, hot_sigma_deg, n_hot)
    return {
        "point_id": np.arange(n, dtype=np.int64),
        "lat": lat,
        "lon": lon,
        "value": rng.gamma(2.0, 10.0, n),
    }


def write_inputs(seed: int, spec: dict, out_dir: str, files: int = 8) -> dict:
    """Write pages/ and points/ as `files` parquet parts each (the engine
    reads them like any dataset) plus truth.json; returns input row counts.
    Nothing is rewritten when out_dir already holds a complete set."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    done = os.path.join(out_dir, "counts.json")
    if os.path.exists(done):
        with open(done) as fh:
            return json.load(fh)
    rows, truth = pages(seed, spec["pages"])
    pts = points(seed, extent=spec["pages"]["extent"], **spec["points"])
    tmp = out_dir + ".tmp"
    for sub in ("pages", "points"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    table = pa.Table.from_pylist(rows)
    pts_table = pa.table(pts)
    for k in range(files):
        pq.write_table(table.take(list(range(k, len(rows), files))),
                       os.path.join(tmp, "pages", f"part-{k:03d}.parquet"))
        lo, hi = k * len(pts_table) // files, (k + 1) * len(pts_table) // files
        pq.write_table(pts_table.slice(lo, hi - lo),
                       os.path.join(tmp, "points", f"part-{k:03d}.parquet"))
    with open(os.path.join(tmp, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    counts = {"pages": len(rows), "payload_pages": len(truth),
              "points": len(pts_table)}
    with open(os.path.join(tmp, "counts.json"), "w") as fh:
        json.dump(counts, fh)
    os.replace(tmp, out_dir)
    return counts
