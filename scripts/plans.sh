#!/bin/sh
# Regenerate the committed explain("formatted") snapshots for the
# Explain.headline query set — ONE FILE PER KEY under plans/ plus the
# PLANS.md index (round-15 verdict item 7: the old 21k-line monolith
# buried real plan diffs under wholesale regeneration noise; now a
# round's git diff touches only the keys whose plans actually changed).
#
# Usage: scripts/plans.sh            # sf0.01 fixtures
#        SPARK_GRAFT_SF_DIR=... scripts/plans.sh
set -e
cd "$(dirname "$0")/.."
: "${SPARK_GRAFT_SF_DIR:=/root/testdata/sf0.01}"
export SPARK_GRAFT_SF_DIR
# program stdout is unprefixed; drop sbt's own [info]/[success] lines and
# anything before the first plan header
# Expression IDs (#NNNN), plan_ids, subquery ids and lambda variable
# suffixes (x_39) are session-global counters: adding ONE query
# renumbers every later plan, which buries the real diffs this split
# exists to expose. The source line of a checkpoint's creation site
# moves with any edit above it. A scratch artifact's directory carries
# the fixture's content hash and its part files carry a write UUID, so
# both change whenever the artifact is rebuilt; an appended artifact's
# file list (its first part file, its entry count) follows its append
# history. Normalize them all — a snapshot diff must mean the plan
# CHANGED, not that the run order, a line, a rebuild or an append did.
sbt -batch "runMain graft.Explain" 2>/dev/null \
  | grep -v '^\[' \
  | sed -E 's/#[0-9]+/#N/g; s/plan_id=[0-9]+/plan_id=N/g; s/(Subquery|subquery|cte)([ _]?)[0-9]+/\1\2N/g; s/RDD\[[0-9]+\]/RDD[N]/g; s/Lambda\$[0-9]+\/0x[0-9a-f]+@[0-9a-f]+/Lambda\$N/g; s/lambda ([a-z]+)_[0-9]+/lambda \1_N/g; s/(\.scala):[0-9]+/\1:N/g; s/([_=]sf[0-9.]+[_=])[0-9a-f]{16}(\+[0-9a-f]{16})*/\1H/g; /^Location:/ s/[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}/UUID/g; /^Location:/ s/part-[0-9]+-/part-N-/g; /^Location:/ s/\.\.\. [0-9]+ entries/... N entries/g' \
  | awk '/^## /{found=1} found' > PLANS.tmp
n=$(grep -c '^## ' PLANS.tmp)
if [ "$n" -lt 1 ]; then
  echo "plans.sh: no plans captured — aborting without touching plans/" >&2
  rm -f PLANS.tmp
  exit 1
fi
mkdir -p plans
# split: each '## <key>' section becomes plans/<key>.txt (md fences and
# leading blank lines stripped)
awk '
  /^## /  { key=$2; out="plans/" key ".txt"; started=0; printf "" > out; next }
  /^```$/ { next }
  out != "" {
    if (!started && $0 == "") next
    started = 1
    print >> out
  }
' PLANS.tmp
# index: one line per key, so PLANS.md stays a stable table of contents
{
  echo '# PLANS — explain("formatted") snapshots'
  echo
  echo 'One snapshot per headline query under plans/<key>.txt, regenerated'
  echo 'by scripts/plans.sh in the same commit that changes any headline'
  echo 'query. A round'"'"'s git diff touches only keys whose plan changed.'
  echo
  grep '^## ' PLANS.tmp | sed 's|^## \(.*\)$|- [\1](plans/\1.txt)|'
} > PLANS.md
# drop stale snapshots for keys no longer in the headline set
for f in plans/*.txt; do
  [ -e "$f" ] || continue
  k=$(basename "$f" .txt)
  grep -q "^## $k\$" PLANS.tmp || rm -f "$f"
done
rm -f PLANS.tmp
echo "wrote PLANS.md index + $n plan files under plans/"
