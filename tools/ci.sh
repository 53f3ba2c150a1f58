#!/usr/bin/env bash
# Full local gate: tests + oracle verification + bench.
# Usage: bash tools/ci.sh [sf_dir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"

# Warn-and-continue gates write machine-readable markers here; the
# round-close checklist (BUILDER_NOTES) requires each marker to be
# adjudicated (worktree A/B for bench, re-run for elasticity) before
# the round is accepted — a WARN line alone can scroll past, a
# surviving marker file cannot.
# per-run directory: concurrent ci invocations (the worktree A/B
# protocol runs two back to back) must not clobber each other's
# markers
WARN_DIR=$(mktemp -d /tmp/ci_warnings.XXXXXX)
echo "warn markers: $WARN_DIR"

echo "== pytest =="
python -m pytest tests/ -q

echo "== benchmark harness tests =="
python -m pytest perfbench/tests -q

echo "== oracle gate ($SF) =="
python tools/verify_local.py --sf "$SF"

echo "== oracle gate on real executor JVMs (local-cluster) =="
# local[N] shares one JVM with the driver and structurally hides
# closure-serialization / broadcast-lifecycle / worker-import bugs
# (round 5 caught a real one: the package was never shipped to
# executors). This runs the full gate on separate JVMs — round 7
# moved to a HETEROGENEOUS 3-executor shape (3x2x2048, odd executor
# count so partition counts never divide evenly) per the verdict.
python tools/verify_local.py --sf "$SF" --master 'local-cluster[3,2,2048]'

echo "== streaming + curation tests on real executor JVMs =="
SPARK_GRAFT_MASTER='local-cluster[3,2,2048]' \
  python -m pytest tests/test_streaming.py tests/test_curate.py -q

echo "== real-world differential (auto-widens when available) =="
# Round-9 verdict ask #6 + round-10 ask #1: the sandbox DOES ship
# real third-party PDFs (/usr/share/doc — libtasn1.pdf,
# shared-mime-info-spec.pdf). When SPARK_GRAFT_CORPUS isn't already
# set, stage them with the engine's own fetch_corpus probe so the
# real-world harness runs in EVERY gate instead of skipping; the
# poppler/pytesseract differential still widens only when those
# binaries exist.
if [ -z "${SPARK_GRAFT_CORPUS:-}" ]; then
  # round-11: no --from-dir = the tool's multi-root candidate list
  # (/usr/share, /usr/local/share, /opt, /mnt, /media, /srv, /data) —
  # any image that ships more PDFs widens the gate automatically;
  # roots.json in the corpus dir records per-root probe counts
  CORPUS_DIR=/tmp/pdf_corpus_ci
  echo "staging real-PDF corpus (multi-root probe) -> $CORPUS_DIR"
  if python tools/fetch_corpus.py --out "$CORPUS_DIR"; then
    export SPARK_GRAFT_CORPUS="$CORPUS_DIR"
  else
    echo "WARN: no openable PDFs under the candidate roots (corpus not staged)"
  fi
fi
DIFF_AVAILABLE=0
if command -v pdftotext >/dev/null 2>&1; then
  echo "poppler found: running pdftotext differential"
  python -m pytest tests/test_pdftotext_differential.py -q
  DIFF_AVAILABLE=1
else
  echo "SKIP: poppler (pdftotext) not installed — fixture-twin"
  echo "      coverage only (tests/test_pdftotext_differential.py"
  echo "      auto-skips; install poppler-utils to widen)"
fi
if [ -n "${SPARK_GRAFT_CORPUS:-}" ] && [ -d "${SPARK_GRAFT_CORPUS:-}" ]; then
  echo "corpus found at $SPARK_GRAFT_CORPUS: running real-world harness"
  python -m pytest tests/test_realworld_corpus.py -q
  DIFF_AVAILABLE=1
else
  echo "SKIP: no real PDF corpus staged — run tools/fetch_corpus.py"
  echo "      --from-dir <pdfs> and export SPARK_GRAFT_CORPUS to widen"
fi
if [ "$DIFF_AVAILABLE" -eq 0 ]; then
  echo "differential section: 0 of 2 sources available (documented gate, see COVERAGE.md)"
fi

echo "== dynamic-allocation / shuffle-tracking smoke =="
# exit 1 = wrong answer / dynalloc inactive (hard); exit 2 = the
# timing-dependent elasticity law missed its window on a loaded host
python tools/dynalloc_smoke.py || {
  rc=$?
  if [ "$rc" -eq 2 ]; then
    echo "WARN: elasticity timing law missed (host timing); continuing"
    printf '{"gate": "dynalloc_elasticity", "rc": 2, "action": "re-run tools/dynalloc_smoke.py on a quiet host before round close"}\n' \
      > "$WARN_DIR/dynalloc.json"
  else
    exit "$rc"
  fi
}

echo "== bench (sf0.1) =="
python bench.py | tee /tmp/bench_now.json

echo "== bench regression gate vs last round =="
# The gate compares across SESSIONS, where host drift has produced a
# false trip every round since r3 (the same-host worktree A/B — the
# round-5 protocol — exonerated each one, r7 included: r6 code 6.12s
# vs r7 code 4.33s in the same window). It therefore WARNS and
# continues; a trip demands the A/B before being believed, and an
# abort here would silently skip the scale/spill steps below.
LAST=$(ls BENCH_r*.json 2>/dev/null | sort | tail -1)
if [ -n "$LAST" ]; then
  python tools/bench_compare.py "$LAST" /tmp/bench_now.json || {
    echo "WARN: bench gate tripped vs $LAST — run the same-host"
    echo "      worktree A/B (BUILDER_NOTES round-5 protocol) to"
    echo "      adjudicate before treating this as a regression."
    printf '{"gate": "bench_regression", "baseline": "%s", "action": "same-host worktree A/B (BUILDER_NOTES round-5 protocol) required before round close"}\n' \
      "$LAST" > "$WARN_DIR/bench.json"
  }
else
  echo "no BENCH_r*.json baseline yet; skipping"
fi

echo "== at-scale invariant checks (5-10M rows) =="
python tools/scale_check.py

echo "== memory-pressure spill law (10M rows, 1GiB executors) =="
python tools/spill_check.py

echo "== spill law on the heterogeneous 3x2x2048 shape (~30M rows) =="
SPILL_EXECUTORS=3 SPILL_CORES=2 SPILL_MEM_MB=2048 python tools/spill_check.py

echo "== warn-gate markers =="
if ls "$WARN_DIR"/*.json >/dev/null 2>&1; then
  echo "UNADJUDICATED WARN MARKERS (ci is NOT clean until each is"
  echo "adjudicated per its 'action' field):"
  cat "$WARN_DIR"/*.json
  exit 3
else
  echo "none — ci fully clean"
fi
