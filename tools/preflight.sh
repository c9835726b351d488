#!/bin/sh
# Pre-commit verification for this repo: compile + full test suite +
# the driver's own correctness gate (Verify at sf0.01 -> DuckDB oracle
# compare). On success, writes .preflight_green with a hash of the
# current source state; the prepare-commit-msg hook (tools/hooks/,
# installed via `git config core.hooksPath tools/hooks`) compares that
# stamp at commit time and appends a `Preflight: green|UNVERIFIED`
# trailer — so a snapshot commit carries its build health in the
# message instead of shipping a red build silently (the round-6
# failure mode).
set -e
cd "$(dirname "$0")/.."

# Hashes the verification-relevant state: the CONTENT of every file
# (tracked or untracked, staged or not) under src/, build.sbt and
# tools/ — tools/ so weakening the oracle comparator after a green run
# un-stamps it. Purely content-based on purpose: a HEAD+diff hash dies
# the moment a commit lands or a new file is staged (the same tree
# hashes differently across those states), which stamped verified
# commits UNVERIFIED. Deleted-but-tracked files simply drop out of the
# listing (2>/dev/null), which still changes the hash. Must stay
# identical to the computation in tools/hooks/prepare-commit-msg.
state_hash() {
    git ls-files -z -c -o --exclude-standard src build.sbt tools |
        sort -zu | xargs -0 -r sha256sum -- 2>/dev/null |
        sha256sum | cut -d' ' -f1
}

# One session builder: every entry point and spec builds its session
# through graft.util.Sessions.local, so a SparkSession.builder anywhere
# else under src/ is a copy that can drift from it. -a: some specs carry
# control characters and would otherwise be skipped as binary.
stray=$(grep -rla "SparkSession\.builder" src |
    grep -vx "src/main/scala/graft/util/Sessions.scala" || true)
if [ -n "$stray" ]; then
    echo "preflight: SparkSession.builder outside Sessions.scala:" >&2
    echo "$stray" >&2
    exit 1
fi

sbt -batch compile test
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/preflight_verify"
python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/preflight_verify

# Adversarial-text fuzz gate (round 14, VERDICT r13 #8): the fixed-seed
# fuzz fixture swept over the tokenization-sensitive core, so the
# Java/RE2/trim parity the round-13 sweep locked in cannot silently
# regress. Round 15 added the astral (supplementary-plane) class to the
# corpus and the six kernels it hardened (code-point murmur/fingerprint/
# chunking/BPE/unigram) to the gate. Full-sweep recipe stays in
# tools/fuzz_corpus.py's docstring.
FUZZ_QUERIES="q162_langid_model,q37_text_analysis,q38_text_fingerprint,\
q53_dedup_ngram_jaccard,q64_text_repetition,q66_decontaminate,\
q71_text_token_df,q89_text_gopher_filter,q90_text_heavy_hitters,\
q120_drop_repeated_ngrams,q140_dsir_importance_select,\
q157_ccnet_perplexity_buckets,q80_dedup_passages,\
q153_source_token_accounting,q98_text_countmin,q114_bpe_encode,\
q150_unigram_encode_frozen,q160_dedup_cdc_chunks,q33_dedup_minhash,\
q34_dedup_simhash"
python3 tools/fuzz_corpus.py /root/testdata/sf0.01 /tmp/preflight_fuzz
sbt -batch "runMain graft.Verify /tmp/preflight_fuzz /tmp/preflight_fuzz_verify $FUZZ_QUERIES"
python3 tools/check_oracle.py /tmp/preflight_fuzz /tmp/preflight_fuzz_verify

state_hash > .preflight_green
echo "preflight: GREEN ($(cat .preflight_green))"
