#!/bin/bash
# Embedding-side adversarial rehearsal (companion to skew_bench.sh): d04's
# hyperplane-band self-join vs the d20 guarded recipe on a corpus where
# 20% of vectors are byte-identical (SkewData's embeddings rule). Extends
# BENCH_SKEW.json with an "embedding" section.
set -e
cd /root/repo
GATES="d04_,d20_"
OUT=/tmp/skewbench
mkdir -p $OUT

# regenerate the skew dirs with the embedding rule (SkewData now skews
# embeddings too), and a 10x documents+embeddings scale base
sbt -batch "runMain graft.tools.SkewData /root/testdata/sf0.1 /tmp/graft_skew/sf0.1" \
  > $OUT/egen1.log 2>&1
sbt -batch "runMain graft.tools.ScaleData /root/testdata/sf0.1 /tmp/graft_scale10 10 documents,embeddings" \
  > $OUT/egen2.log 2>&1
for t in region nation customer supplier part orders lineitem events; do
  # -n: never dereference an existing symlink-to-directory destination
  # (skew_bench.sh leaves these behind; plain -sf would link INSIDE the
  # pristine /root/testdata table directory)
  ln -sfn /root/testdata/sf0.1/$t.parquet /tmp/graft_scale10/$t.parquet
done
sbt -batch "runMain graft.tools.SkewData /tmp/graft_scale10 /tmp/graft_skew10" \
  > $OUT/egen3.log 2>&1

run_bench() { # name sfdir reps timeout
  local name=$1 dir=$2 reps=$3 to=$4
  echo "=== $name (dir=$dir) ==="
  SPARK_GRAFT_SF_DIR=$dir SPARK_GRAFT_ONLY=$GATES SPARK_GRAFT_REPS=$reps \
  SPARK_GRAFT_TIMEOUT_SEC=$to \
  SPARK_GRAFT_BENCH_OUT=$OUT/$name.json SPARK_DRIVER_MEM=32g \
    sbt -batch "runMain graft.Bench" > $OUT/$name.log 2>&1 || true
  tail -1 $OUT/$name.json 2>/dev/null || echo "(no artifact)"
}

run_bench emb_healthy_sf01 /root/testdata/sf0.1 2 600
run_bench emb_skew /tmp/graft_skew/sf0.1 2 600
run_bench emb_skew10 /tmp/graft_skew10 1 900

python3 - <<'EOF'
import json
art = json.load(open("/root/repo/BENCH_SKEW.json"))
runs = {}
for name in ["emb_healthy_sf01", "emb_skew", "emb_skew10"]:
    try:
        runs[name] = json.load(open(f"/tmp/skewbench/{name}.json"))
    except Exception as e:
        runs[name] = {"error": str(e)}
art["embedding"] = {
    "what": ("d04 (unguarded hyperplane-band self-join) vs d20 (identical-"
             "vector star collapse + banding on representatives) on the "
             "SkewData embedding rule: 20% of corpus vectors byte-identical. "
             "No cap analogue exists for d04 -- the guard IS the d20 "
             "composition; on healthy corpora d20 = d04 exactly (empty star, "
             "every vector its own representative)."),
    "runs": runs,
}
json.dump(art, open("/root/repo/BENCH_SKEW.json", "w"), indent=1)
print("extended BENCH_SKEW.json")
EOF
