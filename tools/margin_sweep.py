#!/usr/bin/env python
"""Rounding-boundary margin sweep over every oracled query (VERDICT r8
item 2).

The r8 driver fail (embed_dim_covariance) was a `round(x, 4)` applied to
a partition-order-dependent double sum whose value sat ~1.9e-8 from a
.00005 half-boundary: both local SF gates passed (this host lands on the
oracle's side of the boundary) while the driver's differently-partitioned
session flipped the last ulp and rounded the other way.  Nothing measured
that margin before the driver did — this tool does, mechanically:

  1. for every registered oracle, find each two-argument `round(EXPR, k)`
     site with balanced-paren parsing and strip it to `(EXPR)`;
  2. run the stripped SQL in DuckDB over the same parquet tables;
  3. for every stripped site whose `AS alias` lands in the final result,
     report min over values of |frac(v * 10^k) - 0.5| — the distance to
     the nearest round-half boundary.  A margin below ~1e-6 means a
     last-ulp accumulation-order wobble can flip the rounded output
     between hosts/engines: FAIL, convert that query to an exact integer
     core (the `agg_gini_concentration` / r9 `embed_dim_covariance`
     discipline) or re-scale.

Sites the sweep does NOT gate (reported as counts, not margins):
  - PER_ROW_OK (query, column) pairs — per-document integer ratios that
    are dyadic-exact and order-invariant (see the allow-list comment);
    their margins print with a [per-row] tag and never flag;
  - single-argument `round(v * 100)` cents quantization: applied to RAW
    input columns, not accumulations — deterministic per row, and the
    2dp-generated fixtures put v*100 ~0.5 away from the half-boundary;
  - `floor(x * 10^k + 0.5) / 10^k` (util.rbin form): structurally safe
    by construction — both engines run the identical three IEEE ops on
    the identical double, so a zero margin is EXPECTED there (exact-cents
    means land exactly on boundaries) and is not a defect;
  - rounds nested inside larger expressions with no `AS alias` in the
    final projection (counted as `unscoped_sites` so coverage is
    visible).

Margins are conservative for mid-CTE rounds: stripping ALL sites means a
downstream site sees un-rounded upstream values (a ~1e-4-scale shift of
what production rounds).  That is the right direction for a wobble gate —
the production pipeline's value differs from the measured one by far more
than the 1e-6 threshold only if the upstream round itself moves the
value, in which case the downstream margin is dominated by the upstream
grid (multiples of 10^-k), not by ulp noise.

Usage:
  python tools/margin_sweep.py                 # both SFs, table + gate
  python tools/margin_sweep.py --json OUT      # also write the artifact
  python tools/margin_sweep.py name [name...]  # subset
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# one DuckDB view per engine table, named as in the engine's registry
from build_a_cloud_based_batch_etl_pipeline_spark.schemas import TABLES  # noqa: E402

FAIL_MARGIN = 1e-6
_MASK = "R0UND1ARG_"

# PER-ROW allow-list: (query, column) pairs whose rounded value is a
# per-document ratio of small integers (uniq/total words, chars/words,
# |A-and-B|/|A-or-B|, ...).  These hit margin 0 by CONSTRUCTION — 1/2,
# 3/8, 9/2 are exact dyadic doubles sitting ON the half boundary — but
# they are not in the wobble class this sweep gates: the class that
# produced the r8 driver fail is ORDER-DEPENDENT accumulation (a double
# sum whose ulp depends on partitioning, so a local pass does not imply
# a driver pass).  A per-row expression is evaluated in a fixed in-row
# order on BOTH engines, so the doubles reaching round() are identical
# everywhere and the existing both-SF hash gates fully cover the class
# (they pass at the very SFs where these boundary values occur —
# including round()'s exact-half behavior, where Spark's HALF_UP and
# DuckDB's away-from-zero agree for the non-negative ratios here).
# Listing is per-column so any NEW sub-threshold column still fails
# the gate until it is either integer-cored or argued into this list.
PER_ROW_OK = {
    ("dedup_ngram_jaccard", "jaccard"),
    ("doc_quality_percentile_filter", "uniq_ratio"),
    ("text_gopher_quality", "mean_word_len"),
    ("text_quality", "uniq_ratio"),
    ("text_quality", "stopword_ratio"),
    ("text_quality", "avg_word_len"),
    ("text_repetition", "top_word_frac"),
    ("text_repetition", "uniq_bigram_ratio"),
    ("text_stats", "word_density"),
}


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def strip_rounds(sql: str):
    """Strip every two-argument round(EXPR, k) to (EXPR).

    Returns (stripped_sql, sites) where sites is a list of
    {"alias": str|None, "k": int|None}.  Single-argument round() is
    left in place (masked during the scan so the search terminates).
    """
    sites: list[dict] = []
    out = sql
    while True:
        m = re.search(r"\bround\s*\(", out, re.IGNORECASE)
        if m is None:
            break
        start = m.end()
        depth, i, comma = 1, start, None
        while depth and i < len(out):
            ch = out[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                comma = i
            i += 1
        end = i
        if comma is None:
            out = out[: m.start()] + _MASK + out[m.end() : ]
            continue
        inner = out[start:comma]
        karg = out[comma + 1 : end - 1].strip()
        try:
            k: int | None = int(karg)
        except ValueError:
            k = None
        am = re.match(r"\s+AS\s+(\w+)", out[end:], re.IGNORECASE)
        sites.append({"alias": am.group(1) if am else None, "k": k})
        out = out[: m.start()] + "(" + inner + ")" + out[end:]
    return out.replace(_MASK, "round("), sites


def count_floor_form(sql: str) -> int:
    return len(re.findall(r"floor\s*\(", sql, re.IGNORECASE))


def margin_of(values, k: int) -> float | None:
    """min over finite values of |frac(v * 10^k) - 0.5|."""
    p = 10.0**k
    best: float | None = None
    for v in values:
        if v is None:
            continue
        try:
            y = float(v) * p
        except (TypeError, ValueError):
            return None
        if not math.isfinite(y):
            continue
        d = abs((y - math.floor(y)) - 0.5)
        if best is None or d < best:
            best = d
    return best


def sweep(names, oracles, sf_dir: str) -> dict:
    con = duck_con(sf_dir)
    report: dict[str, dict] = {}
    for name in names:
        sql = oracles[name]
        stripped, sites = strip_rounds(sql)
        entry: dict = {
            "round_sites": len(sites),
            "floor_form_sites": count_floor_form(sql),
            "margins": {},
            "unscoped_sites": 0,
            "err": None,
        }
        gated = [s for s in sites if s["alias"] and s["k"] is not None]
        entry["unscoped_sites"] = len(sites) - len(gated)
        if gated:
            try:
                df = con.execute(stripped).fetchdf()
            except Exception as e:
                entry["err"] = f"stripped SQL raised: {e}"
                report[name] = entry
                continue
            for s in gated:
                if s["alias"] not in df.columns:
                    entry["unscoped_sites"] += 1
                    continue
                mg = margin_of(df[s["alias"]], s["k"])
                prev = entry["margins"].get(s["alias"])
                if mg is not None and (prev is None or mg < prev):
                    entry["margins"][s["alias"]] = mg
        report[name] = entry
    con.close()
    return report


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument(
        "--sf",
        action="append",
        default=None,
        help="sf dir(s); default sweeps sf0.01 AND sf0.1",
    )
    ap.add_argument("--json", metavar="OUT", default=None)
    args = ap.parse_args()
    sf_dirs = args.sf or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]

    import __spark_entry__ as e

    oracles = e.oracle_sql()
    names = args.names or sorted(oracles)
    missing = [n for n in names if n not in oracles]
    if missing:
        print(f"no oracle for: {missing}", file=sys.stderr)
        return 2

    full: dict[str, dict] = {}
    n_flag = 0
    n_err = 0
    for sf_dir in sf_dirs:
        rep = sweep(names, oracles, sf_dir)
        full[sf_dir] = rep
        print(f"== {sf_dir} ==")
        for name, ent in rep.items():
            if ent["err"]:
                # an erroring stripped oracle means that query's margins
                # were NOT measured — that must fail the gate, or a
                # strip_rounds regression silently un-gates the query
                n_err += 1
                print(f"ERR   {name}: {ent['err']}")
                continue
            if not ent["margins"]:
                if ent["round_sites"]:
                    print(
                        f"-     {name}: {ent['round_sites']} round site(s), "
                        f"none gated (unscoped={ent['unscoped_sites']})"
                    )
                continue
            gated_cols = {
                c: m
                for c, m in ent["margins"].items()
                if (name, c) not in PER_ROW_OK
            }
            n_bad = sum(1 for m in gated_cols.values() if m < FAIL_MARGIN)
            n_flag += n_bad
            mark = "FLAG " if n_bad else "ok   "
            cols = ", ".join(
                f"{c}={m:.3e}"
                + (" [per-row]" if (name, c) in PER_ROW_OK else "")
                for c, m in sorted(ent["margins"].items())
            )
            print(f"{mark} {name}: {cols}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(
                {
                    "fail_margin": FAIL_MARGIN,
                    "flagged": n_flag,
                    "errors": n_err,
                    "sweeps": full,
                },
                f,
                indent=1,
                default=float,
            )
        print(f"wrote {args.json}")
    print(f"\n{n_flag} column(s) under {FAIL_MARGIN:g} margin, {n_err} sweep error(s)")
    return 1 if (n_flag or n_err) else 0


if __name__ == "__main__":
    sys.exit(main())
