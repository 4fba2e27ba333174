#!/usr/bin/env python3
"""Regenerate the bench tables in README.md and SURVEY.md from the latest
BENCH_r{N}.json, so doc figures can never drift from measurements again.

Usage: python3 tools/gen_bench_tables.py [BENCH_rNN.json]
(default: highest-numbered BENCH_r*.json in the repo root)

The blocks between BENCH_TABLE_START/END markers are replaced wholesale;
everything outside them is untouched.
"""
import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# BASELINE.md reference wall times (single node, same data scale)
REF_X2 = 2.98
REF_X15 = 684.5


def latest_bench():
    files = sorted(glob.glob(os.path.join(ROOT, "BENCH_r*.json")))
    if not files:
        sys.exit("no BENCH_r*.json found")
    return files[-1]


def parse_bench(path):
    """Pull the LAST volume_headline and total/total_summary JSON objects
    out of the driver's captured stdout (the `tail` field). The capture
    window is byte-bounded from the left, so the first lines (and the
    long `total` line's head) may be cut — parse whatever JSON objects
    survive whole. When no volume_headline or atlas_summary survives, the
    headline medians come from total_summary's `headlines` map."""
    with open(path) as f:
        doc = json.load(f)
    vol, atlas, tot, summary = None, None, None, None
    for line in doc.get("tail", "").splitlines():
        start = line.find('{"metric"')
        if start < 0:
            continue
        try:
            obj = json.loads(line[start:])
        except json.JSONDecodeError:
            continue
        if obj.get("metric") == "volume_headline":
            vol = obj
        elif obj.get("metric") == "atlas_summary":
            atlas = obj
        elif obj.get("metric") == "total":
            tot = obj
        elif obj.get("metric") == "total_summary":
            summary = obj
    if doc.get("parsed"):
        tot = tot or doc["parsed"]
    # atlas_summary is the byte-bounded-window fallback: medians only
    # (no _runN samples, so spread() renders nothing), always short
    # enough to survive alongside total_summary
    vol = vol or atlas
    headline_src = summary or doc.get("parsed") or {}
    if not vol and "headlines" in headline_src:
        vol = {"queries": headline_src["headlines"]}
    if not vol:
        sys.exit(f"could not find a volume_headline or atlas_summary "
                 f"JSON line, or total_summary headlines, in {path}")
    return vol, tot, summary


def spread(q, name):
    runs = sorted(v for k, v in q.items()
                  if re.fullmatch(re.escape(name) + r"_run\d+", k))
    if len(runs) >= 2:
        return f" (runs {runs[0]:.1f}–{runs[-1]:.1f})"
    return ""


def fmt(v, digits=2):
    return f"{v:.{digits}f}"


def render(bench_name, vol, tot, summary):
    q = vol["queries"]
    x2 = q.get("vol_atlas_upscale_x2")
    x2_cold = q.get("vol_atlas_upscale_x2_cold")
    x2_zarr = q.get("vol_atlas_upscale_x2_zarr")
    x2_bit = q.get("vol_atlas_upscale_x2_zarr_bit")
    x15 = q.get("vol_atlas_upscale_x15")
    x15_zarr = q.get("vol_atlas_upscale_x15_zarr")
    meta = summary or tot or {}
    agg = meta.get("agg", "single-run")
    if tot and "queries" in tot:
        n_queries = len([k for k in tot["queries"]
                         if not re.search(r"_run\d+$", k)])
    else:
        # the driver's wrapper `parsed` field is a total_summary object
        # (counts only, no per-query map)
        n_queries = meta.get("n_queries") or (tot or {}).get("n_queries")

    rows = []
    if x2 is not None:
        cell = (f"**{fmt(x2)} s** warm internal ({x2 / REF_X2:.2f}x)"
                + spread(q, "vol_atlas_upscale_x2"))
        if x2_zarr is not None:
            cell += f"; **{fmt(x2_zarr)} s** spec-compliant blosc-zstd zarr ({x2_zarr / REF_X2:.2f}x)"
        if x2_bit is not None:
            cell += (f"; **{fmt(x2_bit)} s** to the reference CLI's exact "
                     f"Blosc-zstd-BITSHUFFLE format ({x2_bit / REF_X2:.2f}x)")
        if x2_cold is not None:
            cell += f"; {fmt(x2_cold)} s cold-JVM"
        rows.append("| ×2 atlas upscale, (456,320,528) uint32 → 616 M voxels "
                    f"| {REF_X2} s | {cell} |")
    if x15 is not None and x15_zarr is not None:
        cell = (f"**{fmt(x15, 1)} s** internal store ({x15 / REF_X15:.2f}x)"
                + spread(q, "vol_atlas_upscale_x15")
                + f"; **{fmt(x15_zarr, 1)} s** real blosc-zstd zarr "
                  f"({x15_zarr / REF_X15:.2f}x)" + spread(q, "vol_atlas_upscale_x15_zarr"))
        rows.append(f"| ×15 streaming upscale → 1.04 TB logical | {REF_X15} s | {cell} |")

    lines = [
        f"Numbers measured from {bench_name} (local[32], sf0.1);",
        f"aggregation rule: {agg.replace('_', '-')} (per-run samples ship",
        "alongside as `<name>_runN` in the bench JSON).",
        "",
        "| Flow | Reference | This engine (measured) |",
        "|---|---|---|",
        *rows,
    ]
    if meta.get("value") is not None:
        lines += ["", f"Full bench: {n_queries} queries, "
                      f"{fmt(meta['value'], 1)} s total ({agg.replace('_', '-')} "
                      f"per query), {meta.get('n_failed', 0)} failed."]
    return "\n".join(lines)


def splice(path, block):
    start, end = "<!-- BENCH_TABLE_START -->", "<!-- BENCH_TABLE_END -->"
    with open(path) as f:
        text = f.read()
    if start not in text or end not in text:
        sys.exit(f"{path} is missing the {start} / {end} markers")
    pre = text.split(start)[0]
    post = text.split(end)[1]
    with open(path, "w") as f:
        f.write(pre + start + "\n" + block + "\n" + end + post)
    print(f"updated {os.path.relpath(path, ROOT)}")


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else latest_bench()
    bench_name = os.path.splitext(os.path.basename(path))[0]
    vol, tot, summary = parse_bench(path)
    block = render(bench_name, vol, tot, summary)
    splice(os.path.join(ROOT, "README.md"), block)
    splice(os.path.join(ROOT, "SURVEY.md"), block)


if __name__ == "__main__":
    main()
