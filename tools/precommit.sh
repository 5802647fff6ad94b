#!/bin/sh
# Pre-commit verification (the round-7 postmortem rule): the tree about
# to be committed must COMPILE and pass an oracle-gate subset covering
# every query whose code changed since <ref> (default HEAD). Run this
# before EVERY commit — above all before the end-of-round snapshot; the
# snapshot must be byte-identical to a tree with a green cycle recorded.
#
#   tools/precommit.sh [ref]          # gate subset derived from git diff
#   tools/precommit.sh ref 'q(1|2)_'  # explicit regex overrides the mapper
#
# Mapper: changed queries/*.scala gate files contribute every qNNN
# literal in their diff hunks, and a gate file new since <ref> (added or
# untracked) every Gate("qNNN_ record it holds; a changed ops/functions/...
# file, or a queries/ file with no Gate records (Q, PxlGate, Fixture and
# other fragment holders), first grows into the set of src/main objects
# that reference it, transitively (a file joins when it names an object
# of the set as `Obj.`, repeated until no file joins — so a change to
# streaming/Calendar reaches the lifecycle gates through CurationStream
# and MultiStream), then contributes every query whose builder body
# references an object of that set (awk tracks the current
# Gate("qNNN_name" record while scanning each queries file; a reference
# in a file's preamble, or an import of the object's members wholesale,
# maps all its queries). Non-query source changes with no mapped query
# fall back to a fixed smoke subset.
set -e
cd "$(dirname "$0")/.." || exit 1
REF="${1:-HEAD}"
SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}"

# Claim-chain guard: the README's gate count must equal the number of
# distinct query names actually defined by Gate records (the round-8
# verdict flagged a drifted "370 queries" claim).
ACTUAL=$(grep -oh 'Gate("q[0-9]*_[a-z0-9_]*"' src/main/scala/graft/queries/*.scala \
  | grep -oE '"q[0-9]+_[a-z0-9_]*"' | sort -u | wc -l)
MAXQ=$(grep -oh 'Gate("q[0-9]*_[a-z0-9_]*"' src/main/scala/graft/queries/*.scala \
  | grep -oE 'q[0-9]+' | grep -oE '[0-9]+' | sort -n | tail -1)
CLAIM=$(grep -oE 'oracle gate \([0-9]+ queries,' README.md | grep -oE '[0-9]+' | head -1)
CLAIMMAX=$(grep -oE 'q[0-9]+, every one value-checked' README.md \
  | grep -oE '[0-9]+' | head -1)
if [ "$ACTUAL" != "$CLAIM" ] || [ "$MAXQ" != "$CLAIMMAX" ]; then
  echo "[precommit] FAIL: README claims $CLAIM queries through q$CLAIMMAX," >&2
  echo "            source defines $ACTUAL through q$MAXQ — update README.md" >&2
  exit 1
fi
echo "[precommit] gate-count claim OK ($ACTUAL queries through q$MAXQ)" >&2

echo "[precommit] compiling (main + test)..." >&2
sbt -error -batch compile Test/compile

# The object named $1 plus every src/main object that references it,
# directly or through another object of the set.
referrers() {
  SET=" $1 "; FRONT="$1"
  while [ -n "$FRONT" ]; do
    PAT=$(printf '%s\n' $FRONT | paste -sd '|' -)
    FRONT=""
    for g in $(grep -rlE "(^|[^A-Za-z0-9_])($PAT)[.]" src/main/scala \
        --include='*.scala'); do
      o=$(basename "$g" .scala)
      case "$SET" in
        *" $o "*) ;;
        *) SET="$SET$o "; FRONT="$FRONT $o" ;;
      esac
    done
  done
  echo $SET
}

CHANGED=$(git diff --name-only "$REF" -- 'src/main/scala/*.scala'; \
          git diff --cached --name-only -- 'src/main/scala/*.scala'; \
          git ls-files --others --exclude-standard -- 'src/main/scala/*.scala') || true
CHANGED=$(printf '%s\n' "$CHANGED" | sort -u | grep . || true)
if [ -z "$CHANGED" ]; then
  echo "[precommit] no main-source changes vs $REF; compile-only PASS" >&2
  exit 0
fi

if [ -n "$2" ]; then
  QS="$2"
else
  NUMS=""
  for f in $CHANGED; do
    KIND=ref
    case "$f" in
      src/main/scala/graft/queries/*)
        if [ -f "$f" ] && ! git cat-file -e "$REF:$f" 2>/dev/null; then
          KIND=new
        elif grep -q 'Gate("q' "$f" 2>/dev/null \
            || git show "$REF:$f" 2>/dev/null | grep -q 'Gate("q'; then
          KIND=hunks
        fi ;;
    esac
    case "$KIND" in
      new)
        # a gate file new since $REF: every record it holds
        NUMS="$NUMS $(grep -oE 'Gate\("q[0-9]+_' "$f" \
          | grep -oE '[0-9]+' || true)" ;;
      hunks)
        # query numbers named in the changed hunks themselves
        NUMS="$NUMS $(git diff "$REF" -- "$f" | grep -oE '"q[0-9]+_' \
          | grep -oE '[0-9]+' || true)" ;;
      *)
        # object name -> its transitive referrers -> queries whose
        # builder body references one of them. Scanned PER FILE (cur
        # resets) so a trailing query of one file is never credited
        # with the next file's references; a reference in a file's
        # PREAMBLE (shared constants like Dedup.shinglesSql feeding many
        # oracles) conservatively maps to EVERY query in that file.
        for OBJ in $(referrers "$(basename "$f" .scala)"); do
        for qf in src/main/scala/graft/queries/*.scala; do
          NUMS="$NUMS $(awk -v obj="$OBJ" '
            match($0, /Gate\("q[0-9]+_[a-z0-9_]*"/) {
              cur = substr($0, RSTART+7, RLENGTH-8)
              sub(/_.*/, "", cur); all[cur] = 1 }
            $0 ~ "^import (graft[.]queries[.])?" obj "[.]_" { pre = 1 }
            index($0, obj ".") { if (cur != "") print cur; else pre = 1 }
            END { if (pre) for (n in all) print n }
          ' "$qf" | sort -u || true)"
        done
        done ;;
    esac
  done
  NUMS=$(printf '%s\n' $NUMS | grep -E '^[0-9]+$' | sort -un | tr '\n' '|' \
    | sed 's/|$//')
  if [ -z "$NUMS" ]; then
    NUMS="1|4|8"  # smoke fallback: scan, agg, join
    echo "[precommit] no query mapping found; smoke subset" >&2
  fi
  QS="q($NUMS)_"
fi

N=$(printf '%s\n' "$QS" | tr '|' '\n' | wc -l)
echo "[precommit] gate subset ($N queries): $QS" >&2
OUT=$(mktemp -d /tmp/graft_precommit_XXXXXX)
trap 'rm -rf "$OUT"' EXIT
sbt -error -batch "runMain graft.Verify $SF $OUT $QS" >/dev/null
python3 tools/check.py "$SF" "$OUT"
echo "[precommit] PASS" >&2
