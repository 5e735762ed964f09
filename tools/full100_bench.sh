#!/bin/bash
# Full-118-gate suite at 100x (round-12 VERDICT item 2): the 100x
# evidence so far covers headliners + new-gate subsets; this runs EVERY
# gate at 100x sf0.1 — reps=1, per-rep timeout so one pathological gate
# cannot stall the artifact (cancellable job groups), errors tolerated
# and listed — then assembles BENCH_100x_full.json with a ranked
# worst-curve table (per-decade growth vs the committed sf0.1 floors).
#
# Sequenced sbt invocations (never concurrent — see verify SKILL.md).
set -e
cd /root/repo
OUT=/tmp/full100
mkdir -p $OUT

# 1. materialize 100x of ALL tables (region/nation stay base dimension
#    tables by ScaleData's model)
if [ ! -f /tmp/graft_full100/.done ]; then
  SPARK_DRIVER_MEM=24g sbt -batch \
    "runMain graft.tools.ScaleData /root/testdata/sf0.1 /tmp/graft_full100 100" \
    > $OUT/gen.log 2>&1
  touch /tmp/graft_full100/.done
fi

# 2. the whole suite; a12/a13/a14 rebuild indexes per call, a10/a11
#    ensure-build once into target/graft-index (left in place: the gate
#    measures query-only floors, the build cost is in BENCH_INDEX)
SPARK_GRAFT_SF_DIR=/tmp/graft_full100 SPARK_GRAFT_REPS=1 \
SPARK_GRAFT_TIMEOUT_SEC=900 \
SPARK_GRAFT_BENCH_OUT=$OUT/suite100.json SPARK_DRIVER_MEM=48g \
  sbt -batch "runMain graft.Bench" > $OUT/suite.log 2>&1 || true
tail -1 $OUT/suite100.json 2>/dev/null || echo "(no artifact)"

# 3. assemble: per-gate 100x reading, ratio vs the committed sf0.1 floor
#    (BENCH_r12_full.json largest run map), per-decade growth
#    (ratio^(1/2) -- 100x = 2 decades), ranked worst first
python3 - <<'EOF'
import json, math
suite = json.load(open("/tmp/full100/suite100.json"))
prev_raw = json.load(open("/root/repo/BENCH_r12_full.json"))
def qmaps(j):
    out = []
    if isinstance(j, dict):
        if isinstance(j.get("queries"), dict): out.append(j["queries"])
        for v in j.values(): out += qmaps(v)
    return out
floors = max(qmaps(prev_raw), key=len)
rows = []
for g, t in suite["queries"].items():
    f = floors.get(g)
    if t is None or t < 0 or not f or f <= 0:
        continue
    ratio = t / f
    rows.append({"gate": g, "x100_sec": round(t, 2), "sf01_floor_sec": round(f, 3),
                 "ratio": round(ratio, 1),
                 "per_decade": round(math.sqrt(max(ratio, 1e-9)), 2)})
rows.sort(key=lambda r: -r["per_decade"])
out = {
    "what": ("Full 118-gate suite at 100x sf0.1 (ScaleData disjoint-copy model, "
             "ALL tables; region/nation stay base dimensions), reps=1, 900 s "
             "per-gate timeout, errors listed. worst_curve ranks per-decade "
             "growth = sqrt(t_100x / sf0.1 floor); floors from "
             "BENCH_r12_full.json (min-of-3). reps=1 readings carry run-to-run "
             "noise the floors do not -- adjudicate >4x/decade gates "
             "individually before calling them super-linear."),
    "suite": suite,
    "worst_curve": rows,
    "over_4x_per_decade": [r for r in rows if r["per_decade"] > 4.0],
}
json.dump(out, open("/root/repo/BENCH_100x_full.json", "w"), indent=1)
print("wrote BENCH_100x_full.json;", len(rows), "gates,",
      len(out["over_4x_per_decade"]), "over 4x/decade")
for r in rows[:12]:
    print(f"  {r['gate']:34s} {r['x100_sec']:8.2f}s  {r['per_decade']:5.2f}x/decade")
EOF
