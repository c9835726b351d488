#!/usr/bin/env python3
"""10x scale spot-check of the declared heavy family (round 12, VERDICT
r11 #4): runs q32/q68/q78/q110/q151 via BenchOne on the committed sf0.1
fixture AND on the 10x sf1-equivalent fixture from tools/gen_sf1.py,
plus the planted DIRT probe at its bench size and 10x that, and writes
`tools/evidence/bench_sf1_spotcheck.json` with per-entry seconds and
observed scaling exponents (ln(t10/t1)/ln(10)).

Method notes recorded in the JSON: sf0.1 side uses BenchOne reps=3
(min); the sf1 side uses reps=1 for the pair-quadratic entries — at 10x
this corpus family's near-dup DENSITY makes pair-producing operators'
output cardinality ~100x (the fixture's word-salad docs make most
same-block pairs true near-dups), so minute-scale single shots are the
honest measurement and the variance that reps fight is negligible
relative to the scale signal.

Usage: python3 tools/sf1_spotcheck.py  (from the repo root; ~30-60 min)
"""
import json
import math
import re
import subprocess
import sys

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/graft_sf1"
QUERIES = ["q32_dedup_jaccard", "q68_dedup_components",
           "q78_curate_corpus_pipeline", "q110_fuzzy_join_editdist",
           "q151_dedup_sentences"]
# round 14 (VERDICT r13 #6): the round-12/13 additions — web-ingest
# family, Aho-Corasick keyword tagging, trained lang-ID — pinned at 10x
# like the older heavy family. Lighter entries, so reps=2 on the sf1
# side is affordable and tames single-shot noise.
NEW_QUERIES = ["q154_html_extract_text", "q155_html_boilerplate_blocks",
               "q156_warc_parse", "q157_ccnet_perplexity_buckets",
               "q158_ingest_pipeline", "q159_prefix_match_join",
               "q160_dedup_cdc_chunks", "q141_keyword_tag_ac",
               "q162_langid_model",
               # round-14 additions: table format + compressed video
               "q163_table_time_travel", "q166_table_stream_ingest",
               "q165_multimodal_mjpeg_frame_sample",
               # round-15: file-pruned MERGE (createPartitioned stats +
               # two-stage pruning). table_stream_50batches is NOT here:
               # its workload is fixture-independent by construction
               # (synthetic 50x200-row batches); its scale claim is the
               # in-run flat-commit-cost REQUIRE, not a 10x exponent.
               "q168_table_pruned_merge",
               # round-15b: the write-time change-data feed (five-version
               # lifecycle) and the stats-pruned range read
               "q169_table_change_feed", "q170_table_pruned_read",
               # round-16: multi-column conjunctive pruning, the
               # streaming source across schema evolution, and the
               # format() streaming sink
               "q172_table_multicol_pruned_read",
               "q173_table_stream_source_evolution",
               "q174_table_sink_format",
               # round-17: the update-mode streaming sink (source -> sink
               # upsert lifecycle over the events table).
               # dedup_lsh_adversarial is fixture-independent (synthetic
               # planted twins); its 10x probe scales the corpus via
               # SPARK_GRAFT_JACCARD_DOCS below, like dirt_planted
               "q175_table_sink_update_mode",
               # round-18: timestamp travel, z-order compact, RESTORE,
               # CHECK constraints (all table-metadata ops whose data
               # work is bounded by the touched files, not the table)
               "q176_table_timestamp_travel", "q177_table_zorder_compact",
               "q178_table_restore", "q179_table_check_constraint"]
PLANTED_SMALL = 41667   # the bench entry's group count (2,000,016 lines)
PLANTED_BIG = 416670    # 10x (20,000,160 lines)


def bench_one(sf_dir, names, reps, extra_env=None, cache_key=None):
    """Stage results are cached under /tmp so an interrupted campaign
    (e.g. one stage OOM-ing) never re-pays completed minute-scale
    stages."""
    import os
    cache = f"/tmp/sf1_stage_{cache_key}.json" if cache_key else None
    if cache and os.path.exists(cache):
        return json.load(open(cache))
    env = {"SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_CPUS": "32",
           "SPARK_GRAFT_BENCH_REPS": str(reps),
           # the 20M-line planted probe needs real heap; harmless for
           # the rest (the machine has 128 GiB)
           "SPARK_DRIVER_MEM": "64g"}
    if extra_env:
        env.update(extra_env)
    import os
    full = dict(os.environ, **env)
    cmd = ["sbt", "-batch", f"runMain graft.BenchOne {' '.join(names)}"]
    out = subprocess.run(cmd, capture_output=True, text=True, env=full)
    res = {}
    for line in (out.stdout + out.stderr).splitlines():
        m = re.match(r"BENCHONE (\S+) reps=\d+ min=([0-9.]+)", line)
        if m:
            res[m.group(1)] = float(m.group(2))
    missing = [n for n in names if n not in res]
    if missing:
        print(out.stdout[-3000:])
        print(out.stderr[-3000:])
        raise SystemExit(f"BenchOne missing entries: {missing}")
    if cache:
        json.dump(res, open(cache, "w"))
    return res

def main() -> None:
    subprocess.run([sys.executable, "tools/gen_sf1.py", SF1], check=True)

    small = bench_one(SF01, QUERIES, reps=3, cache_key="small")
    big = bench_one(SF1, QUERIES, reps=1, cache_key="big")
    small.update(bench_one(SF01, NEW_QUERIES, reps=3,
                           cache_key="small_r15b"))
    big.update(bench_one(SF1, NEW_QUERIES, reps=2, cache_key="big_r15b"))

    pl_small = bench_one(SF01, [f"dirt_planted_{PLANTED_SMALL * 48}"],
                         reps=1, cache_key="planted_small",
                         extra_env={"SPARK_GRAFT_PLANTED_GROUPS":
                                    str(PLANTED_SMALL)})
    pl_big = bench_one(SF01, [f"dirt_planted_{PLANTED_BIG * 48}"],
                       reps=1, cache_key="planted_big",
                       extra_env={"SPARK_GRAFT_PLANTED_GROUPS":
                                  str(PLANTED_BIG)})

    entries = {}
    for q in QUERIES + NEW_QUERIES:
        entries[q] = {
            "sec_sf01": small[q], "sec_sf1": big[q],
            "exponent": round(math.log(big[q] / small[q]) / math.log(10), 3),
        }
    ps = pl_small[f"dirt_planted_{PLANTED_SMALL * 48}"]
    pb = pl_big[f"dirt_planted_{PLANTED_BIG * 48}"]
    entries["dirt_planted"] = {
        "n_small": PLANTED_SMALL * 48, "sec_small": ps,
        "n_large": PLANTED_BIG * 48, "sec_large": pb,
        "exponent": round(math.log(pb / ps) / math.log(10), 3),
    }

    # round-17 LSH-adversarial probe: synthetic planted-twin embeddings,
    # 10x via the jaccard-docs knob (n = docs * 16)
    lsh_small = bench_one(SF01, ["dedup_lsh_adversarial_800000"],
                          reps=2, cache_key="lsh_small",
                          extra_env={"SPARK_GRAFT_JACCARD_DOCS": "50000"})
    lsh_big = bench_one(SF01, ["dedup_lsh_adversarial_8000000"],
                        reps=1, cache_key="lsh_big",
                        extra_env={"SPARK_GRAFT_JACCARD_DOCS": "500000"})
    ls_, lb = (lsh_small["dedup_lsh_adversarial_800000"],
               lsh_big["dedup_lsh_adversarial_8000000"])
    entries["dedup_lsh_adversarial"] = {
        "n_small": 800000, "sec_small": ls_,
        "n_large": 8000000, "sec_large": lb,
        "exponent": round(math.log(lb / ls_) / math.log(10), 3),
    }
    # carry over the committed per-entry annotations (output-bound
    # explanations, output_pairs counts) — the timings refresh, the
    # hand-written analysis must not be silently dropped
    try:
        with open("tools/evidence/bench_sf1_spotcheck.json") as f:
            prev = json.load(f)["entries"]
        for q, e in entries.items():
            for k, v in prev.get(q, {}).items():
                if k not in e:
                    e[k] = v
    except FileNotFoundError:
        pass

    doc = {
        "metric": "sf1_spotcheck",
        "method": ("BenchOne local[32]; sf0.1 reps=3 min, sf1/10x reps=1 "
                   "single-shot for the minute-scale pair-heavy entries "
                   "and reps=2 for the round-14 lighter additions; "
                   "fixture from tools/gen_sf1.py (50k docs / 150k "
                   "customers, distributions derived from sf0.1, "
                   "seed 42)"),
        "entries": entries,
    }
    with open("tools/evidence/bench_sf1_spotcheck.json", "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps(doc, indent=1))


if __name__ == "__main__":
    main()
