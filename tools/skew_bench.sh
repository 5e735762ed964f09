#!/bin/bash
# Adversarial-skew rehearsal (round-11 VERDICT item 2): measure the LSH /
# banded dedup family on the pathological corpus SkewData materializes
# (20% byte-identical mass -> one degenerate (band,sig) bucket; dominant
# boilerplate prefix), with the band-bucket cap ON (production default)
# and OFF (SPARK_GRAFT_BAND_CAP huge) — the before/after the guard's
# claim needs, at sf0.1 and at 10x. Assembles BENCH_SKEW.json.
#
# Sequenced sbt invocations (never concurrent — see verify SKILL.md).
set -e
cd /root/repo
GATES="t01_,d01_,d02_,d06_,d08_,d19_"
OUT=/tmp/skewbench
mkdir -p $OUT

# 1. materialize the skewed corpora
sbt -batch "runMain graft.tools.SkewData /root/testdata/sf0.1 /tmp/graft_skew/sf0.1" \
  > $OUT/gen1.log 2>&1
sbt -batch "runMain graft.tools.ScaleData /root/testdata/sf0.1 /tmp/graft_scale10 10 documents" \
  > $OUT/gen2.log 2>&1
for t in region nation customer supplier part orders lineitem events embeddings; do
  # -n: never dereference an existing symlink-to-directory destination —
  # without it a rerun would create the link INSIDE the pristine testdata dir
  ln -sfn /root/testdata/sf0.1/$t.parquet /tmp/graft_scale10/$t.parquet
done
sbt -batch "runMain graft.tools.SkewData /tmp/graft_scale10 /tmp/graft_skew10" \
  > $OUT/gen3.log 2>&1

run_bench() { # name sfdir cap reps timeout
  local name=$1 dir=$2 cap=$3 reps=$4 to=$5
  echo "=== $name (dir=$dir cap=$cap) ==="
  SPARK_GRAFT_SF_DIR=$dir SPARK_GRAFT_ONLY=$GATES SPARK_GRAFT_REPS=$reps \
  SPARK_GRAFT_TIMEOUT_SEC=$to SPARK_GRAFT_BAND_CAP=$cap \
  SPARK_GRAFT_BENCH_OUT=$OUT/$name.json SPARK_DRIVER_MEM=32g \
    sbt -batch "runMain graft.Bench" > $OUT/$name.log 2>&1 || true
  tail -1 $OUT/$name.json 2>/dev/null || echo "(no artifact)"
}

# 2. same-machine healthy floors for the selected gates
run_bench healthy_sf01 /root/testdata/sf0.1 64 2 600
# 3. skewed sf0.1: guard on (production default) vs off
run_bench skew_capped /tmp/graft_skew/sf0.1 64 2 600
run_bench skew_uncapped /tmp/graft_skew/sf0.1 1000000000 1 600
# 4. skewed 10x (50k docs, 10k-doc degenerate bucket): guard on vs off
run_bench skew10_capped /tmp/graft_skew10 64 2 900
run_bench skew10_uncapped /tmp/graft_skew10 1000000000 1 900

# 5. assemble the artifact
python3 - <<'EOF'
import json
runs = {}
for name in ["healthy_sf01", "skew_capped", "skew_uncapped",
             "skew10_capped", "skew10_uncapped"]:
    try:
        runs[name] = json.load(open(f"/tmp/skewbench/{name}.json"))
    except Exception as e:
        runs[name] = {"error": str(e)}
out = {
    "what": ("LSH/banded dedup family on the SkewData adversarial corpus "
             "(20% byte-identical docs -> one degenerate (band,sig) bucket; "
             "boilerplate prefix on ~40%), band-bucket cap 64 (production) "
             "vs uncapped (SPARK_GRAFT_BAND_CAP=1e9, measurement only). "
             "Gates keep full-oracle correctness under the cap because "
             "capBandsSql mirrors the rule in every oracle."),
    "runs": runs,
}
json.dump(out, open("/root/repo/BENCH_SKEW.json", "w"), indent=1)
print("wrote BENCH_SKEW.json")
EOF
