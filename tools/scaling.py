#!/usr/bin/env python3
"""Scaling-curve harness: runs graft.Bench at three scale factors and
writes SCALING.md — the artifact behind the "would this survive 100x"
claims. For each query it reports the measured wall-clock at sf0.001 /
0.01 / 0.1 and the 10x-data time ratios; a ratio near 1 means the query
is still overhead-dominated at that size, near 10 means it already
scales linearly in data volume, well above 10 flags superlinear risk.

Usage: python3 tools/scaling.py [runs_per_query] [--only q1,q2]
(dev tool, driver-side python; the measured artifact is SCALING.md)

--only runs the four legs for ONLY the named queries (via
SPARK_GRAFT_BENCH_FILTER) and merges their rows into the
/tmp/bench_sf*.json left by the last full regeneration, then rewrites
SCALING.md from the merged set — the incremental path for adding a few
new rows without re-paying the ~2 h full curve. Per-row medians are
unaffected by suite composition (each query is warmed and timed
independently); the merged totals add the new rows' medians onto the
full-run totals.
"""
import json
import os
import subprocess
import sys

args = [a for a in sys.argv[1:]]
ONLY = None
if "--only" in args:
    i = args.index("--only")
    ONLY = args[i + 1]
    del args[i:i + 2]
REWRITE_ONLY = "--rewrite" in args
if REWRITE_ONLY:
    args.remove("--rewrite")
RUNS = args[0] if args else "3"
SFS = ["0.001", "0.01", "0.1", "1.0"]

# sf1.0 is builder-derived (10x sf0.1, tools/make_sf1.py) and lives in
# the repo because /root/testdata is read-only.
SF_DIR = {sf: f"/root/testdata/sf{sf}" for sf in SFS}
SF_DIR["1.0"] = "/root/repo/testdata/sf1.0"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def bench(sf):
    out = f"/tmp/bench_sf{sf}.json"
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx8g", "-XX:ReservedCodeCacheSize=512m", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", "target/scala-2.13/classes:/opt/spark/jars/*",
            "graft.Bench"]
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=SF_DIR[sf],
               SPARK_GRAFT_BENCH_OUT=out if ONLY is None else f"/tmp/bench_only_sf{sf}.json",
               SPARK_GRAFT_BENCH_RUNS=RUNS)
    if ONLY is not None:
        env["SPARK_GRAFT_BENCH_FILTER"] = ONLY
    r = subprocess.run(cmd, capture_output=True, text=True, env=env,
                       cwd="/root/repo")
    if r.returncode != 0:
        print(f"bench sf{sf} FAILED rc={r.returncode}")
        print(r.stderr[-3000:])
        sys.exit(1)
    if ONLY is None:
        with open(out) as f:
            return json.load(f)
    # merge the filtered rows into the last full run's artifact
    with open(f"/tmp/bench_only_sf{sf}.json") as f:
        part = json.load(f)
    with open(out) as f:
        full = json.load(f)
    for q, v in part["queries"].items():
        if q in full["queries"]:
            full["value"] -= full["queries"][q]
        full["queries"][q] = v
        full["value"] += v
    with open(out, "w") as f:
        json.dump(full, f)
    return full


# Maintained alongside the harness so regeneration keeps the analysis.
# The causes below are structural (measured once, stable across runs);
# re-verify the numbers if a named query's plan changes.
COMMENTARY = """\
## Ratio commentary (sf0.1 -> sf1.0 step, measured 2026-08-15)

- **x34_semantic_dedup — the fixed-capacity trap, measured, then
  REMOVED.** The first round-7 scaling run caught x34 at 80.9 s /
  27.7x per 10x data — WORSE than x3 — because its cell count was
  pinned at K=16 while the corpus grew 10x: 20k vectors in 16 cells
  is ~1,250 per cell, and the cell-keyed candidate join is quadratic
  in cell size, the very saturation x34 exists to avoid (16 cells
  saturate before x3's 256 signatures do). The fix makes the query's
  own claim true: K = scaledK(n), the smallest power of two with
  K^2 >= n (flat-IVF sqrt(n) rule; 16 at the sf0.01 gate, 64 at
  sf0.1, 256 at sf1.0), computed by the same integer-exact
  powers-of-two argmin in both engines and replayed in the oracle's
  kk CTE. With capacity tracking the corpus the sf1.0 row drops
  ~8x (80.9 -> ~10 s) and the step ratio falls out of the flag zone;
  candidate work is O(n^1.5) by construction — cells hold ~sqrt(n)
  vectors at every scale. The table's x34 row now measures the
  scaled form; the 27.7x figure is retained here as the measured
  contrast.
- **x3_embedding_neardup (~15x) — named cause: fixed-width LSH
  signature saturation, the declared semantics.** x3 buckets on an
  8-plane (256-value) sign signature that is PART of the query
  definition (the oracle applies the identical planes). Measured
  occupancy: sf0.1 packs 2,000 vectors into 237 distinct signatures
  (max bucket 82, sum(n^2) = 52k same-key pairs); sf1.0 saturates the
  space — 20,000 vectors in 255/256 signatures, max bucket 809,
  sum(n^2) = 5.2M pairs — exactly 100x the candidate verification work
  for 10x the data, of which ~15x survives to wall-clock because
  verification is only part of the row. This is how ANY fixed-width
  LSH behaves once occupancy scales; the remedy is the knob the query
  comment names: plane count must grow ~log2(n) (12 planes at 20k
  vectors restores sf0.1 occupancy). The plan itself stays a keyed
  equi-join — no cross product appears at any size. **The gated
  remedy is x34_semantic_dedup**: a TRAINED IVF coarse quantizer
  whose cell count K is a training-time knob that grows with the
  corpus — no fixed ceiling to saturate — with the identical
  cell-keyed candidate-join shape (compare its sf1.0 row in the
  table above). x3 is retained as the fixed-width contrast case; its
  query comment (DedupQueries.scala) cross-references x34.
- **x12_dedup_clusters (~7-10x)** — candidate pairs from the shingle
  bands grow ~5x (see l2) and the pointer-jumping CC loop adds a
  round as components multiply; each round joins a 10x node table.
  Still at/below linear-per-data at this step; the loop is the
  O(log diameter) design doing its job.
- **l2/x2/x24 (~4.9x / 2.6x / 2.6x)** — band-bucket occupancy rises
  with corpus size (same mechanism as x3 but over 16-lane minhash
  bands, which saturate far more slowly); candidate verification is
  per-pair array work, so the growth shows as a mild super-linearity
  at the step where per-query fixed overhead stops dominating.
- **x32/x33** — k-means training is a fixed number of fused scans;
  since round 9 the trainer input is KMeans.trainingSet (the 64k-cap
  vec_id stride ring — identity at these scales), so the training
  term is bounded at any corpus size and assign cost per row is
  K = scaledK(n) literal dots. x33's ADC search probes cells holding
  ~sqrt(n) codes (corpus-scaled K since round 9 — previously the
  fixed K=16 made cells hold n/16 and per-query work track the
  corpus), so per-query candidate work grows ~sqrt(10) ≈ 3.2x per
  decade while the query side stays fixed at 20. Both are scans +
  keyed joins end-to-end; no pairwise blow-up exists.
- **x12/x36/x38 (~9-12x, oscillating around the flag line run to
  run)** — the connected-components family:
  candidate pairs from the shingle bands grow ~5-6x (see l2), the
  pointer-jumping loop adds a round as components multiply, and each
  round joins a 10x node table. x36 and x38 inherit x12's loop and
  add a per-cluster window / the funnel+mix stages (both partitioned,
  neither global). The per-component term is the candidate-pair
  growth (a data-character property of the duplicated corpus), not a
  plan defect: every join stays band/label-keyed, and the loop count
  grows with log(diameter), so the family tracks candidate volume —
  the same bound l2/x2 obey — rather than any pairwise blow-up.
- **x37** — training is x33's 3 fused scans over the bounded
  training set; the nprobe=4 probe side scans 4 cells per query of
  ~sqrt(n) codes each (scaledK), and the brute-force ground-truth
  audit is a broadcast linear scan of 20 fixed queries. No pairwise
  term anywhere: the row stays overhead-plus-linear.
- **x47** — x33's bounded training plus ADC shortlisting whose
  candidate count per query is probed-cell occupancy (4 cells x
  ~sqrt(n) codes at scaledK — sub-linear per decade); the exact
  re-rank stays fixed at 20 raw vectors per query, so the growth is
  entirely the stage-1 scan — the design's point: approximation
  error only has to keep the true top-5 inside a shortlist whose
  cost scales with cell size, never with the corpus pairwise.
- **x49/x51/x48 (~2-2.2x)** — edge extraction / delta derivation /
  outer merge are single keyed joins over the 10x fact data; the
  downstream work is bounded (nations^2 graph, aggregate-keyed merge,
  per-row explode), so the rows track the scan cost.
- **s5-s9 (~1.2-2.4x)** — micro-batch commit floor does not grow
  with data (BASELINE.md round-6 note); the data term (s8's join
  state, s9's 10x enriched rows through one sink) is starting to
  show on top of it.
- **b1 (~2x)** — bucketed ingest rewrites the 10x fact tables
  (bucketBy write is most of the row); the join itself stays
  exchange-free at every size.
- **x21 (~1x)** — sf-invariant by construction (fixed in-plan
  5,000-doc stress corpus).
- Rows in the 2-4x band (r1-r24, wc*, text/curation family) are
  crossing from overhead-dominated to data-dominated across this
  step; their absolute sf1.0 times (0.3-2.4 s for ~6M lineitem /
  50k docs / 1M events) are the engine working as designed.
- **Round-7c/d rows (x53-x68, r25-r27, b4/b5, s12/s13): all inside
  the 1-4.7x band, no new flags.** The shapes predict it: x53's
  encode is vocabulary-granular (corpus term = one explode + one
  join); x55/x57/x60/x65 are corpus-linear passes with bounded join
  sides (block df, 256 buckets, MG candidates, df<=20 posting
  lists); x56/x63/x64 are pure per-row hash/window arithmetic;
  x61/x66 run their wedge joins on the nations^2-bounded graph so
  only the shared edge extraction scales; x62/x68 are 64-key /
  640-row partial aggs; x58's regex battery is a scan; b4/b5 rewrite
  the 10x events table (the write IS the row, like b1); s12/s13 ride
  the micro-batch commit floor plus a linear state pass; r28's two
  window families key on the 5-value type column; b6 rewrites the
  events table twice (fragment + compact — the write IS the row);
  m3's checksum pass is a typed scan. r26's watch
  item is DISCHARGED in round 8: its collect_set range frame holds
  the 30-day slice per user (cost follows events-per-user), and x71
  now implements the pre-named bounded-state swap — the same
  semantics as a repartition + secondary-sort + one-pass scan keeping
  only each type's latest timestamp (state = the 5-entry alphabet,
  independent of event rate), gated against r26's verbatim oracle.
  A hot key that breaks r26's frame has a green plan to move to.
- **Round-8 rows (b7/b8/b9/b10/s14, x69-x73): shapes bound the
  growth.** b10 is b8's encode-append plus a b6-style bounded
  rewrite of the codes artifact (the compaction write IS the extra
  cost; its huge-step ratio sits in the same write-dominated band
  as b1/b6/b9).
  b7/b8 are x33's linear training plus artifact parquet writes (the
  write IS most of the row, like b1/b4); their search legs are the
  same cell-keyed ADC joins x33 measures. s14 adds the micro-batch
  commit floor on top of b8's encode-append (one job per arriving
  file by construction — maxFilesPerTrigger=1). b9 rewrites the
  events table through ORC (the write IS the row). x69 is l2's
  band-bucket pipeline over a fixed planted corpus plus the
  sf-scaled documents table; x70's anchor df agg + sparse join-back
  is corpus-linear (anchors per doc are bounded by token count);
  x71 is one exchange + sorted scan (see above). x73 is one fact
  scan + four broadcast joins — the fact side never shuffles, so the
  row tracks scan cost exactly like the r-family scans.
- **Round-9 rows and re-bases (b11, x74, x72, s14, and the
  scaledK'd search family).** x72's dense leg is RE-BASED onto
  x47's trained-index two-stage (round-8 VERDICT's one scale-killer
  discharged): the former broadcast all-pairs scorer was O(n²/100)
  with a corpus-growing broadcast side; the new leg trains the same
  bounded IVF-PQ index and probes it through a cell-keyed SHUFFLE
  equi-join (the query set is 1% of the corpus, so nothing
  broadcasts), then exact-re-ranks a 20-row shortlist — O(n^1.5/100)
  total, and the row's absolute cost is now dominated by the
  training scans, not the scoring. b11 is b10's lifecycle plus a
  tombstone write (bounded id-only artifact) and the anti-join mask
  — the delete itself is corpus-size-independent; compaction's
  rewrite IS the cost, as in b10. x74 is x34's candidate/verify
  floor plus the one-time artifact build/save/load — the load is a
  bounded (M+1)·K-row codebook read, so the deployed per-pass shape
  is strictly cheaper than x34's in-plan form. s14 now runs TWO
  stream lifecycles (an injected post-commit crash plus the replay
  restart), adding one fixed micro-batch commit floor — replay
  proof, not a data term. The whole trained-IVF family
  (x29/x33/x37/x47/b7/b8/b10/s14) trains at K = scaledK(n) over the
  64k-capped training set: assignment pays sqrt(n) literal dots per
  row (visible as the one-time jump in this round's sf0.1 numbers
  for x29/x33/b7) to buy per-query probe work that no longer tracks
  n/16 — the x34 trade, now uniform across the family.
- **Round-9b rows (b12, b13/b14/s15, x75, b15).** b12 is b7's serve
  path plus one broadcast anti-join whose build side is the
  tombstone id set — bounded by deletes, not the corpus. The dedup
  index family is corpus-linear at build (one text scan per indexed
  slice: sha-256 + the native shingle→minhash projection) and
  BATCH-scaled at serve: b13/b14's dedup joins batch-side band keys
  against the loaded artifact's pruned columnar scans, so per-ingest
  cost tracks the batch while the artifact scan is ~150 bytes/doc —
  the whole point of persisting signatures instead of re-scanning
  text. s15 adds two stream lifecycles on top of b14 (crash +
  replay restart), a fixed micro-batch commit floor like s14's.
  x75's candidate stage is l3's broadcast-20-query linear scan (the
  audit shape; a deployment feeds it from x47's shortlist instead);
  the pairwise sim matrix is a qid-keyed self-join INSIDE each
  20-row pool (380 ordered pairs per query - a != b, both directions) and the 5-step greedy runs as
  one typed flatMapGroups pass per query group — corpus-independent
  by construction (the k-step declarative chain it replaced paid
  Catalyst re-planning, not data cost: 21.7 s of planner time at
  sf0.1 vs 1.2 s for the group pass). b15 writes and reads the full
  events table through Avro — the row IS the format round trip, so
  it tracks table volume like b9. b16 is b8's append lifecycle plus
  three snapshot commits (each one bounded listing + one small
  driver-written manifest file committed by rename, no Spark job)
  and a delete batch; the pinned loadAt search is b7's serve shape
  with one manifest file read in front — the snapshot layer's cost
  tracks FILE COUNT, never data volume, so the row rides the b8
  curve.
- **Round-10 rows (b17, b18, b19, s16).** b17 is b16's snapshot chain
  plus ONE directory rename (metadata-only at any artifact size) and
  the same pinned-at-v2 serve — the row rides b16's curve; what it
  buys is structural, not temporal: manifests are now
  root-relative, so the pinned read survives the relocation the row
  performs. b18 is b10's compaction cost (the rewrite IS the cost,
  one shuffle by cell) with a partitioned sink, then b7's serve
  shape where the codes scan's PartitionFilters carries a
  dynamic-partition-pruning subquery from the broadcast query side —
  at gate scales the directory count is scaledK(n) ≈ sqrt(n) (tens),
  so DPP saves little HERE; the layout's payoff is the K ≈ 10^4
  regime where a 20-query nprobe=1 probe opens ≤ 20 of 10^4
  directories instead of every footer. s16 is s15's shape exactly
  (two stream lifecycles, micro-batch commit floor); the staged
  atomic rename it proves adds one metadata rename per batch — the
  row differs from s15 only in WHERE the injected crash lands
  (between data commit and marker), which is the contract under
  test, not a cost term. b19 is b8's lifecycle plus a junk append (a
  second corpus-linear encode term — the row's data cost) and the
  rollback itself, which is pure metadata: one manifest file read
  per retained version, one recursive listing, per-file deletes, no
  Spark job — tracks file count at any data volume.
- **Round-10b rows (x76, x77, s17).** x76's sketch build is one token
  scan where the groupBy(i, bucket) partial-agg state is CAPPED at
  4,096 counters per task and the exchange carries <= 4,096 rows per
  input partition at ANY corpus size — the sketch is sf-invariant by
  construction, so the row tracks the token-scan + char-fold hash
  cost (the same per-char term x7 measures) plus a probe join whose
  build side is the 1/97 doc slice's vocabulary (broadcast-sized at
  every gate sf). x77 is one scan + the TopKPerKey operator (map-side
  partial heaps bound shuffle at k=10 rows per stratum per input
  partition) + a window over the <= 10-rows-per-lang survivors — the
  row tracks scan cost exactly; there is no sort of the corpus at any
  size. s17 is x76's token-scan term over the indexed slice plus the
  micro-batch commit floor (two real epochs) and one <= 4,096-row
  counters append per batch — the artifact and its serve read are
  sf-invariant in size, so the row rides the scan + commit floor.
  x78 is x57's weight pipeline (bounded 256-bucket tables, broadcast
  weight join — the bigram explode is the data term) plus x77's
  TopKPerKey draw: the row tracks x57's curve with the sampler adding
  k-rows-per-stratum shuffle only.

- **Round-11: the CC family switched algorithms (x12/x36/x38, and
  x21's in-plan resolver).** Cluster resolution moved from
  pointer-jumping min-label propagation to alternating large-star/
  small-star contraction (ops/ConnectedComponents.stars — Kiveris et
  al., SoCC'14). The structural difference the curve should show: the
  min-label loop RE-JOINED the full verified-pair edge list every
  round (sf1.0: 22.3M edges over 36k nodes — template corpora make
  the pair set quadratic in cluster size, and 8 rounds each re-paid
  the dense bulk); the star loop REWRITES the edge list toward a star
  forest, so the dense bulk is touched once and later rounds see a
  collapsing set (measured at sf1.0: 11.2M canonical edges -> 45k
  after one large+small pass, fixpoint in 5 rounds). Both are
  reduceByKey(min) + co-partitioned joins — no groupByKey, no
  single-task cluster-size memory; the x12/x36 label-set oracle is
  algorithm-independent, so the gates pin equality while the curve
  measures the rewrite's effect. Measured (round-11 regeneration vs
  round 10): x12 29.55 -> 19.16 s at sf1.0 (decade ratio 11.9 -> 7.5),
  x36 20.68 -> 18.19, x38 22.78 -> 18.78. The small legs pay a higher
  per-round floor (each star round materializes two rewritten edge
  sets where min-label materialized one label set), which is why
  x12's sf0.001->0.01 ratio rose — the trade buys the dense-bulk
  collapse that dominates from sf0.1 up.

- **Round-11 rows (b20-b24, x79).** b20/b21 are the dedup-index
  tombstone pair: b14's corpus-linear build/append plus an id-only
  tombstone append (bounded by deletes), then either a compaction
  rewrite (b20 — one pass over the surviving rows, the b6/b10 layout
  cost) or a masked serve (b21 — one broadcast anti-join on top of
  b14's plan), so both rows track b14's curve with a layout- or
  broadcast-sized increment. b23/b24 are the snapshot layer on the
  dedup artifact (shared core.Snapshots): manifest operations are
  bounded by FILE COUNT — snapshot is a listing + one small manifest
  file, loadAt one file read + the same pruned scans as load,
  rollback a per-file delete sweep — so both rows are b13's serving
  cost plus metadata-time overhead at every sf; the junk-append
  encode in b24 is the same linear term as b14's append. x79 is x3's
  SRP-LSH near-dup with plane count scaled ~log2(n) (scaledPlanes,
  restated in the oracle): where x3's FIXED 8-bit signature width
  saturates (256 buckets can't keep per-bucket occupancy bounded as
  the corpus grows — its ratio is the suite's documented contrast
  case), x79 adds a plane per doubling so expected bucket occupancy
  stays ~constant and the verify join's candidate volume tracks the
  corpus, not its square. Measured at the top step: x79 2.94x per 10x
  data against x3's 15.6x on the same corpus and the same verify
  threshold — the fixed-width flag, retired by construction.

- **x80_incremental_clusters (round 11, --only merge).** x12's answer
  produced as a daily-ingest pipeline produces it: yesterday's label
  FOREST (linear in docs) plus only the pairs involving today's batch
  (asymmetric banding — batch keys x corpus keys), re-starred; gated
  against x12's verbatim full-corpus oracle. The row's in-suite cost
  is DELIBERATELY not x12's: it pays the full sig scan, the old-side
  pair set (recomputed in-run to stay self-contained — a deployment
  reads the x12 artifact instead), the asymmetric batch join, AND two
  star loops, so it runs ~2-4x x12 at every sf. What the curve is for:
  the INCREMENTAL component — batch banding + verify + a star loop
  whose old side is one already-collapsed forest round — tracks the
  batch, so the decade ratio should sit at or below x12's even while
  the row carries the extra self-containment work.

- **Round-11 second wave (--only merge): all nine new rows sit at or
  under 2.8x per 10x data at the top step.** x84 (1.11x) and x81
  (1.17x) are row-local projections — the rendezvous argmax is one
  greatest() fold, the matryoshka legs one broadcast-join scan — so
  they track the scan. x82 (1.29x) is seven one-row aggregate passes
  over the cached feature projection: pass-launch overhead dominates
  until the corpus is much larger; the per-pass term is linear by
  construction. b25 (1.18x) is dominated by the fixed artifact-chain
  cost (two shard builds + merge rewrite) at these sizes; the merge
  rewrite itself is the linear term. x83 (1.65x) pays the linear edge
  extraction; its BFS loop is bounded by the nation graph and never
  grows. The streaming rows carry the documented micro-batch floor:
  s18 1.58x, s20 1.84x, and s19 2.56x — s19's state (a ~90-minute
  slice per side) and its emitted set both grow with the event
  volume, so its ratio converging toward linear is the join doing
  real per-row work, not a blowup; nothing in the wave approaches the
  10x flag line.

- **Round-12 rows (--only merge, measured 2026-08-16).** x85 is
  sf-INVARIANT by construction (its 5,000-doc template fixture is
  generated in-plan, like x21): legs 3.25/2.40/2.10/2.47 are one
  fixed workload under varying ambient load. Its claim is the VOLUME
  audit in the gated output, not the curve: 5,607 capped candidate
  rows vs 636,348 uncapped bucket pairs on the same buckets — the
  113x that becomes ~10^6x on a 10^6-member boilerplate cluster,
  because capped volume is Σ(b−1) against Σ C(b,2). x86 unions the
  REAL corpus (growing 10x per step) with that fixed planted cluster
  and still steps 1.02/1.01/1.47: the lossless all-pairs branch pays
  the corpus's small buckets linearly, the escalated branch stays
  fixed-cost, and worst case is O(cap·keys) whatever the data does —
  the deployable dedup-candidate rule for template-heavy corpora.
  b26 (4.03/4.17/6.63/31.2, 4.7x top step) is DELIBERATELY a whole
  lifecycle in one row: day-0 index build over 2/3 of the corpus
  (sha-256 + signatures + artifact write), label-forest resolution +
  forest write + snapshot, THEN the deployed per-ingest maintain. The
  day-0 terms are corpus-linear one-time costs a deployment amortizes
  across every future batch; the per-ingest component — batch
  signatures, asymmetric banding against the pinned lanes, one star
  loop over (forest ∪ batch pairs) — tracks the batch, which is why
  x80 (same maintenance, no artifact writes) steps lower while both
  gate against the identical full-recompute oracle. gemm3 is a FIXED
  1024³ multiply (ratios ~1, ambient noise): its scale evidence is
  the blocked-vs-flat contrast measured warm in one session —
  blocked 1.81/2.14/3.84 s at 512/1024/2048 against the flat
  coordinate join's 1.18/3.66/13.98 s, identical checksums at every
  shape. The flat join materializes n³ joined rows (8x per doubling —
  shuffle-bound); the blocked path does the same arithmetic inside
  local dense block products and shuffles only n²-scale block
  replicas, so its doubling ratio (1.8x at the top step) tracks
  FLOPs amortized over fixed overhead, not join-row volume.

- **b27_forest_daily_chain (--only merge).** Two b26 cadences chained
  — day 1 maintains from v1, commits its labels as forest gen-2, day 2
  maintains from v2 — so the row carries roughly double b26's
  artifact-chain cost while stepping LOWER at the top decade: the
  day-0 resolve covers only a third of the corpus here, and each
  maintenance day is batch-linear. What the row is for is composition,
  not speed: day 2 trusts a forest produced BY maintenance, and the
  answer still hash-matches the full recompute. (Round-12 legs, with
  the then-uncapped candidate rule: b26 4.03/4.17/6.63/31.2 s — 4.7x
  top step; b27 6.81/8.74/9.97/34.0 s — 3.4x. Superseded below.)

- **Round-13: the hybrid cap DEPLOYED into the dedup production paths
  (b26/b27 re-measured; b28/b29/x87/x88 new — measured 2026-08-16).**
  DedupIndex.clusterLabels/maintainClusters/dedupBatch now generate
  candidates through the hybrid bucket rule at DefaultCap=16 with SNM
  CHAIN escalation (anchor star + full-signature-sorted successor
  pairs — 2(b−1) rows per escalated bucket), and the decade curves
  show what that buys ON REAL DATA, not just on the planted flood:
  b26's sf1.0 leg fell 31.2 -> 15.6 s and its top step 4.71x ->
  1.52x; b27 fell 34.0 -> 21.6 s (3.42x -> 1.90x) — at sf1.0 the real
  corpus's band-pair buckets reach the hundreds, so the uncapped
  day-0 resolve and ingests were paying Σ b² bucket work the cap now
  bounds linearly, while every gated answer is bit-identical (the
  gate scales never escalate; the flooded regime is gated by b28).
  The chain leg's whole cost on top of anchor-only escalation is ~3%
  at sf1.0 (an intermediate anchor-only measurement had b26 at
  15.1 s / b27 at 20.1 s) — the price of closing x87's measured
  recall hole. b28 (6.65/6.26/8.43/14.63, top step 1.74x) runs the
  whole flooded lifecycle — real documents growing 10x per step ∪ the
  FIXED 1,000-doc planted template cluster — and its curve tracks the
  real corpus alone because the flood's cost is linear in occupancy
  regardless of sf; its gated volume audit (6,028 deployed-rule vs
  2,191,168 raw pre-distinct ingest join rows at the gate scale) is
  the same claim in exact counts. b29 (8.74/8.20/12.98/20.37, 1.57x)
  is b27 plus the retention vacuum: expire's cost is manifest file
  reads + per-file deletes, invisible next to the maintenance
  days, and the 2 -> 1 generation reclaim it gates is sf-independent.
  x87 (2.73/2.15/2.38/2.90) and x88 (2.61/1.93/2.23/2.43) are
  sf-INVARIANT by construction — one fixed 100-doc signature-level
  fixture read two ways: x87 measures what anchor-only escalation
  loses on the adversarial chain (98 of 99 verified pairs, 1 cluster
  fragments into 99), x88 gates the deployed SNM successor leg
  closing exactly that loss (lost_pairs 0, cluster intact) at
  2(b−1) candidates.
"""


def main():
    res = {}
    for sf in SFS:
        if REWRITE_ONLY:
            # commentary/format-only rewrite from the cached last-run
            # artifacts — no bench invocation, no numbers change
            with open(f"/tmp/bench_sf{sf}.json") as f:
                res[sf] = json.load(f)
            continue
        print(f"running full suite at sf{sf} (median of {RUNS}) ...")
        res[sf] = bench(sf)
        print(f"  total {res[sf]['value']:.1f}s")

    qs = list(res["1.0"]["queries"].keys())
    lines = [
        "# SCALING — measured scale-up curve (auto-generated by tools/scaling.py)",
        "",
        f"Full-suite graft.Bench (median of {RUNS} timed runs, suite order,",
        "hygiene barrier between runs, round-6 untimed warm pass) at FOUR",
        "scale factors on this machine, local[32]. Row counts scale 1000x",
        "across the table (lineitem ~6k / ~60k / ~600k / ~6M; documents",
        "50 / 500 / 5,000 / 50,000; events 1k / 10k / 100k / 1M; embeddings",
        "20 / 200 / 2,000 / 20,000). sf1.0 is builder-derived — ten",
        "key-shifted sf0.1 replicas with per-copy decorrelation of the",
        "dedup/ANN inputs (tools/make_sf1.py documents why verbatim",
        "duplication would distort those workloads). Rows added after a",
        "full regeneration may be measured by the --only incremental mode",
        "(filtered legs merged in; per-row medians are suite-independent",
        "since every query is warmed and timed on its own).",
        "",
        "Reading the ratios: each step is 10x the data. A ratio near 1 means",
        "the query is still dominated by fixed per-query overhead (job",
        "launch, codegen, shuffle setup) at the smaller size; near 10 means",
        "compute already scales with data volume; well past 10 flags",
        "superlinear risk (a candidate blowup or a plan that stopped",
        "broadcasting). Streaming rows (s5/s6) carry a structural floor —",
        "micro-batch commits and state-store checkpoints — that does not",
        "shrink with data, so their ratios sit near 1 by design. x21",
        "generates its fixed 5,000-doc stress corpus in-plan, so it is",
        "sf-invariant by construction.",
        "",
        "| query | sf0.001 (s) | sf0.01 (s) | sf0.1 (s) | sf1.0 (s) | x10 small | x10 big | x10 huge |",
        "|---|---|---|---|---|---|---|---|",
    ]
    flags = []
    for q in qs:
        t1 = res["0.001"]["queries"].get(q, -1)
        t2 = res["0.01"]["queries"].get(q, -1)
        t3 = res["0.1"]["queries"].get(q, -1)
        t4 = res["1.0"]["queries"].get(q, -1)
        if min(t1, t2, t3, t4) < 0:
            lines.append(f"| {q} | {t1:.2f} | {t2:.2f} | {t3:.2f} | {t4:.2f} | — | — | — |")
            continue
        r_small = t2 / t1 if t1 > 0 else float("nan")
        r_big = t3 / t2 if t2 > 0 else float("nan")
        r_huge = t4 / t3 if t3 > 0 else float("nan")
        lines.append(
            f"| {q} | {t1:.2f} | {t2:.2f} | {t3:.2f} | {t4:.2f} "
            f"| {r_small:.2f} | {r_big:.2f} | {r_huge:.2f} |")
        if r_huge > 10.0:
            flags.append((q, r_huge))
    tot = [res[sf]["value"] for sf in SFS]
    lines.append(
        f"| **total** | **{tot[0]:.1f}** | **{tot[1]:.1f}** | **{tot[2]:.1f}** | **{tot[3]:.1f}** "
        f"| {tot[1]/tot[0]:.2f} | {tot[2]/tot[1]:.2f} | {tot[3]/tot[2]:.2f} |")
    lines.append("")
    if flags:
        lines.append("Superlinear flags (x10 huge > 10):")
        for q, r in sorted(flags, key=lambda x: -x[1]):
            lines.append(f"- {q}: {r:.1f}x per 10x data")
    else:
        lines.append("No query exceeds 10x time per 10x data at the top step: "
                     "no superlinear blowup in the gated surface at these sizes.")
    lines.append("")
    lines.append(COMMENTARY)
    with open("/root/repo/SCALING.md", "w") as f:
        f.write("\n".join(lines))
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
