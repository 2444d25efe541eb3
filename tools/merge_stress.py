#!/usr/bin/env python3
"""Merge N stress passes into a committed tier artifact.

A single pass is not a measurement: the shared-host VM's throughput
swings pass-to-pass far beyond the documented 15-30% noise (identical
deterministic probes 1.2-4x apart between two back-to-back passes).
Every merge follows one rule: a steady-state timing takes the per-field
MEDIAN across passes, with min/max and the raw per-pass values
alongside so both the noise floor and the spread stay visible; a
one-time cost (a build, a JIT warm-in) keeps the min, where the floor
IS the quantity of interest; deterministic fields (rows, recall,
counts) come from the pass whose headline timing is the median.

Merging is only meaningful across passes of the SAME engine: the r12
artifact mixed pre- and post-pairs-cache passes, making q42's merged
steady_sec a warm-cache read ~40x below what the same field meant in
the other passes. Every pass JSON carries the git revision it ran at;
passes at different revisions merge only when git proves the
revisions carry an identical engine (`git diff --quiet rA rB --
src/main build.sbt project`). Anything else, including passes without
a revision, is refused: re-run them at one revision.

Two modes:

  python3 tools/merge_stress.py OUT PASS1.json PASS2.json [...]
      Campaign passes (`graft.Stress <copies> [heavy]`) -> a new tier
      artifact at OUT.

  python3 tools/merge_stress.py --section NAME TIER.json PASS1.json [...]
      Passes of one standalone section (`graft.Stress <copies> NAME`)
      -> folded into TIER.json in place, with the section's own
      revision disclosed: it is not the revision the campaign sections
      of the tier ran at.
"""
import json
import os
import subprocess
import sys
from collections import namedtuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Refused(Exception):
    pass


# How one dict-valued field merges across passes. Fields a rule does not
# name keep the base pass's value.
#   base_by  the first of these fields present picks the base pass (the
#            median pass by it); empty: the first pass; None: start empty
#   spread   median, with <f>_min / <f>_max alongside
#   median   median only; list values merge element by element
#   per_pass raw per-pass values kept verbatim as <f>_per_pass
#   keep_min one-time costs and warm-in floors
#   same     deterministic fields: every pass must agree; kept once
#   drop     removed once their per-pass values are kept
#   true     every pass must report true (its output matched a reference)
#   sub      nested rules: a dict field merges under its rule, a list
#            field element by element
Rule = namedtuple("Rule", "base_by spread median per_pass keep_min same drop true sub",
                  defaults=((), (), (), (), (), (), (), (), {}))

STEADY = ("steady_sec", "probe_sec", "cold_probe_sec", "drain_sec")
# campaign sections merged field by field; update_sec is re-measured per
# pass (ivf_incremental restages each pass), so it medians like a steady
# field instead of min-ing like a one-time build
CAMPAIGN_SECTIONS = ("semantic_dedup", "semantic_dedup_hier", "ivf_split",
                     "ivf_persist", "ivf_incremental", "cdc_catchup", "ss_join")
CAMPAIGN = Rule(base_by=STEADY, spread=STEADY + ("update_sec",), per_pass=STEADY,
                keep_min=("first_sec", "build_sec", "probe_first_sec"))
CAMPAIGN_NOTE = (
    "steady_sec = per-field MEDIAN across same-revision passes "
    "(min/max alongside); first_sec/build_sec keep the min (one-"
    "time costs). steady_sec for the dedup family (q42/q45) reads "
    "session-persisted shingle/pair relations — within each pass, "
    "only the FIRST dedup probe's first_sec carries the one-time "
    "relation build; later family members' first runs start warm")

FROZE = "section added after the tier campaign froze; measured standalone "
DIFFERS = ", which differs from the surrounding sections' revision"
PROBE_POINT = Rule(median=("sec",), per_pass=("sec", "sys_pct"), drop=("sys_pct",),
                   same=("n_queries", "rows"))
COMPACT_ARM = Rule(median=("probe_secs",),
                   per_pass=("probe_secs", "probe_sys_pct", "batch_secs"),
                   drop=("batch_secs", "probe_sys_pct"), same=("live_shards",))

# name -> (pass metric, [(pass key (None: the whole pass), tier path, rule)], note).
# Every pass of a section restages its data, so every timing is an
# independent measurement. The notes keep the mode names they were
# committed with.
SECTIONS = {
    "dml": ("stress_dml", [("ivf_dml_patch", ("ivf_dml_patch",), Rule(
        base_by=("patch_sec",), spread=("patch_sec", "probe_sec"), per_pass=("patch_sec",),
        keep_min=("build_sec", "probe_first_sec")))],
        FROZE + "(dmlonly mode) at the recorded revision" + DIFFERS),
    "pq": ("stress_pq", [("ivf_pq", ("ivf_pq",), Rule(
        base_by=("probe_sec",), spread=("probe_sec", "encode_sec", "ivf_build_sec"),
        per_pass=("probe_sec", "encode_sec"), keep_min=("probe_first_sec",)))],
        FROZE + "(pqonly mode) at the recorded revision" + DIFFERS),
    "store": ("stress_store", [(k, (k,), Rule(
        base_by=("probe_sec", "pairs_sec"), true=("match",),
        spread=("build_sec", "probe_sec", "pairs_sec", "direct_sec", "update_sec"),
        per_pass=("build_sec", "probe_sec", "pairs_sec", "direct_sec", "update_sec"),
        keep_min=("probe_first_sec", "pairs_first_sec")))
        for k in ("bm25_store", "lsh_store")],
        FROZE + "(storeonly mode) at the recorded revision" + DIFFERS),
    # per-batch costs kept verbatim: their flatness ACROSS TIERS is the claim
    "stream": ("stress_stream", [(k, (k,), Rule(
        base_by=("drain_sec",), true=("match",),
        spread=("drain_sec", "direct_sec", "onebatch_sec"),
        per_pass=("drain_sec", "direct_sec", "onebatch_sec", "batch_secs"),
        keep_min=("seed_build_sec",)))
        for k in ("bm25_stream", "ivf_stream")],
        FROZE + "(streamonly mode) at the recorded revision"),
    # replaces the campaign's queries row: a query_row plus the
    # storm-aware per-repeat timings, sys% and discard counts
    "q111": ("stress_q111", [("q111_substring_dedup", ("queries", "q111_substring_dedup"),
                              Rule(base_by=None, per_pass=(
                                  "steady_repeats", "pass_sys_pct", "storm_discarded")))],
             "re-measured standalone (q111only mode) at the salted-join "
             "revision, which differs from the surrounding queries' "
             "campaign revision"),
    "probe": ("stress_probe", [(None, ("batched_probes",), Rule(
        base_by=None, same=("ivf_cell_skew",),
        sub={op: PROBE_POINT for op in ("ivf_probe_all", "bm25_probe_all", "lsh_probe_batch")}))],
        FROZE + "(probeonly mode) at the recorded revision"),
    "compact": ("stress_compact", [(None, ("index_compaction",), Rule(
        true=("match",), sub={"prod": COMPACT_ARM, "control": COMPACT_ARM}))],
        FROZE + "(compactonly mode) at the recorded revision"),
    "champ": ("stress_champ", [("bm25_probe_after_append", ("bm25_probe_after_append",), Rule(
        base_by=("append_merge_sec",), true=("merged",),
        spread=("sidecar_full_build_sec", "append_merge_sec", "append_plain_sec",
                "merge_overhead_sec", "probe_steady_sec", "probe_after_append_steady_sec"),
        per_pass=("append_merge_sec", "probe_after_append_steady_sec"),
        keep_min=("probe_after_append_first_sec",)))],
        FROZE + "(champ section) at the recorded revision"),
}


def median(vals):
    vs = sorted(vals)
    n = len(vs)
    return vs[n // 2] if n % 2 else round((vs[n // 2 - 1] + vs[n // 2]) / 2, 3)


def elementwise(vals, f, what):
    """f over equal-length lists, element by element."""
    if len({len(v) for v in vals}) != 1:
        raise Refused(f"{what} lengths differ across passes ({[len(v) for v in vals]})")
    return [f(list(col)) for col in zip(*vals)]


def merge(secs, rule, what):
    """Merge one dict field across passes; None where a pass lacks it."""
    got = [s for s in secs if s is not None]
    if rule.base_by is None:
        base = {}
    elif rule.base_by:
        key = next((f for f in rule.base_by if f in got[0]), None)
        base = dict(sorted(got, key=lambda s: s[key])[len(got) // 2] if key else got[0])
    else:
        base = dict(got[0])
    for f in rule.true:
        if not all(s.get(f) for s in got):
            raise Refused(f"{what}: a pass reports {f}={[s.get(f) for s in got]}")
    for f, sub in rule.sub.items():
        vals = [s[f] for s in got]
        base[f] = (elementwise(vals, lambda col: merge(col, sub, f"{what}.{f}"), f"{what}.{f}")
                   if isinstance(vals[0], list) else merge(vals, sub, f"{what}.{f}"))
    for f in rule.same:
        vals = [s.get(f) for s in got]
        if any(v is not None for v in vals):
            if any(v != vals[0] for v in vals):
                raise Refused(f"{what}.{f} differs across passes: {vals}")
            base[f] = vals[0]
    for f in rule.spread + rule.median:
        vals = [s[f] for s in got if f in s]
        if vals:
            base[f] = (elementwise(vals, median, f"{what}.{f}")
                       if isinstance(vals[0], list) else median(vals))
            if f in rule.spread:
                base[f + "_min"], base[f + "_max"] = min(vals), max(vals)
    for f in rule.keep_min:
        vals = [s[f] for s in got if f in s]
        if vals:
            base[f] = min(vals)
    # a one-time build cached across passes reports 0.0 on reuse passes;
    # the honest build cost is the min over passes that actually BUILT.
    # If no merged pass built, the cost is UNKNOWN: null, not a fake 0.0.
    if "built" in base:
        built = [s["build_sec"] for s in got if s.get("built")]
        base["built"] = bool(built)
        base["build_sec"] = min(built) if built else None
    for f in rule.per_pass:
        vals = [s.get(f) if s is not None else None for s in secs]
        if any(v is not None for v in vals):
            base[f + "_per_pass"] = vals
    for f in rule.drop:
        base.pop(f, None)
    return base


def query_row(rows):
    """One `queries` row: first_sec keeps the min, steady_sec the median
    over the passes that ran it (a probe added to the tier mid-round
    appears in later passes only; None elsewhere)."""
    steadies = [r.get("steady_sec") if r else None for r in rows]
    ran = [s for s in steadies if s is not None]
    return {"first_sec": min(r["first_sec"] for r in rows if r),
            "steady_sec": median(ran), "steady_min_sec": min(ran),
            "steady_max_sec": max(ran), "steady_per_pass": steadies}


def check(passes, metric, ref, fields):
    """The shared pass checks: metric tag, the tier's copies/base, one
    engine. Returns the per-pass revisions."""
    for p in passes:
        if p.get("metric") != metric:
            raise Refused(f"not a {metric} pass: metric={p.get('metric')}")
        if any(p.get(f) != ref.get(f) for f in fields):
            raise Refused(f"refusing a pass of a different tier: "
                          f"{[p.get(f) for f in fields]} vs {[ref.get(f) for f in fields]}")
    revisions = [p.get("revision") for p in passes]
    if None in revisions:
        raise Refused(f"refusing passes of unknown code revisions: {revisions}")
    distinct = list(dict.fromkeys(revisions))
    for a, b in zip(distinct, distinct[1:]):
        # "engine" includes the build configuration: a build.sbt / plugin
        # / JVM-flag change alters the engine with src/main untouched
        if subprocess.run(["git", "diff", "--quiet", a, b, "--",
                           "src/main", "build.sbt", "project"],
                          cwd=ROOT, capture_output=True).returncode != 0:
            raise Refused(f"refusing passes of different ENGINES: {a} and {b} "
                          "differ under src/main, build.sbt or project/")
    return revisions


def merge_campaign(passes):
    """Campaign passes -> a fresh tier artifact."""
    revisions = check(passes, "stress", passes[0], ("copies", "base", "mode"))
    newest = lambda f: next((p[f] for p in reversed(passes) if f in p), None)
    merged = {
        "metric": "stress", "mode": passes[0].get("mode"),
        "copies": passes[0]["copies"], "base": passes[0]["base"],
        "revision": revisions[0], "revisions_per_pass": revisions,
        "passes": len(passes),
        "shuffle_partitions_per_pass": [p.get("shuffle_partitions") for p in passes],
        "queries": {q: query_row([p["queries"].get(q) for p in passes])
                    for q in dict.fromkeys(q for p in passes for q in p["queries"])},
        # run metadata from the NEWEST pass that defines it
        "q45_frontier_sizes": newest("q45_frontier_sizes"),
        "q45_escalated": newest("q45_escalated"),
        "peak_heap_mb_per_pass": [p.get("peak_heap_mb") for p in passes],
        "notes": CAMPAIGN_NOTE,
    }
    for key in CAMPAIGN_SECTIONS:
        if any(key in p for p in passes):
            merged[key] = merge([p.get(key) for p in passes], CAMPAIGN, key)
    return merged


def merge_section(name, tier, passes):
    """One standalone section's passes -> folded into the tier in place."""
    metric, parts, note = SECTIONS[name]
    revisions = check(passes, metric, tier, ("copies", "base"))
    for key, path, rule in parts:
        secs = passes if key is None else [p.get(key) for p in passes]
        if all(s is None for s in secs):
            continue
        sec = merge(secs, rule, key or name)
        if path[0] == "queries":
            sec.update(query_row(secs))
        sec.update(passes=len(passes), revision=revisions[0], note=note)
        dest = tier
        for k in path[:-1]:
            dest = dest[k]
        dest[path[-1]] = sec
    return tier


def main(argv) -> int:
    section = None
    if argv[:1] == ["--section"] and len(argv) > 1:
        section, argv = argv[1], argv[2:]
        if section not in SECTIONS:
            print(f"unknown section {section!r}; one of {', '.join(SECTIONS)}",
                  file=sys.stderr)
            return 2
    if len(argv) < (2 if section else 3):
        print(__doc__, file=sys.stderr)
        return 2
    out, passes = argv[0], [json.load(open(p)) for p in argv[1:]]
    try:
        merged = (merge_section(section, json.load(open(out)), passes) if section
                  else merge_campaign(passes))
    except Refused as e:
        print(e, file=sys.stderr)
        return 1
    with open(out, "w") as f:
        json.dump(merged, f, indent=1)
        f.write("\n")
    print(f"merged {len(passes)} {section or 'campaign'} passes into {out} "
          f"@ {passes[0]['revision']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
