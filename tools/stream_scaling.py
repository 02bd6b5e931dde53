#!/usr/bin/env python3
"""Streaming state-scaling probe: given stream_bench.json artifacts from
graft.StreamBench runs at several scale factors, emit STREAM_SCALING.md.

The batch SCALING.md answers "does query time scale with data?"; this
answers the standing-pipeline twin: "does STATE scale with data?" — at
100 TB the binding constraint of a stateful streaming operator is state
rows/bytes and cleanup rate, not single-run throughput. For each stage
the table tracks input rows, sustained rows/s, p95 batch seconds, state
rows (max over the run), state bytes, rows evicted, and (for the
kill-restore stages) recovery seconds, across the SFs.

The growth line compares state-rows growth to input-rows growth over
the largest SF step, three-way: 'bounded' = state grew at most half as
fast as the input (top-k/summary state — safe at any corpus size);
'horizon-bounded' = standing state grows with the input BUT eviction
(watermark/timer cleanup) outpaces it, so at any instant state holds
only the active horizon; 'tracks input' = state accretes with the
corpus and nothing evicts — a dedup-history store, which production
bounds via TTL/compaction as the operator docs specify.

A full `graft.StreamBench` run carries every stage; a stage selection
(`runMain graft.StreamBench gate,lsh_dedup,admit_drain`, the scale
rehearsals) carries only its stages and joins as an extra SF column of
those sections. The committed gate_scale_sf*.json predate the
selections: the since-deleted GateScaleBench main (44c9eb5) wrote them,
with a plain-drain lsh_dedup row (no kill-and-restore, so no restore s)
and an upper-median batch p50. The committed gate_rebuild.json and
ingest_knob_sf*.json came from the since-deleted GateRebuildBench and
IngestKnobBench mains (d240e5a); the gate_rebuild and ingest_knob stage
objects carry the same fields.

Usage: stream_scaling.py out.md sf1:stream_bench_1.json sf2:...
"""
import json
import sys


HASH60_NOTE = [
    "These rows predate `functions.Hash60`: `TextStreams.hash60` then",
    "hex-formatted every MD5 digest before parsing it back. The sf0.01 and",
    "sf0.1 re-measurements with the byte fold are in CHANGES.md; sf1 is not",
    "re-measured.",
]

ADMIT_NOTE = [
    "Measured under the total emission shape: one verdict per (arrival,",
    "band). `streamingNearDupAdmit` now emits the non-owner verdicts plus",
    "one presence row per doc, about a quarter of the rows at 4 bands, for",
    "the same admit set. Not re-measured.",
]

# prose under a stage's table
STAGE_NOTES = {"hll_live": HASH60_NOTE, "countmin_live": HASH60_NOTE,
               "admit": ADMIT_NOTE, "admit_drain": ADMIT_NOTE}

# a knob artifact measured before a change to what the stage decides
KNOB_NOTES = {
    "ingest_knob_sf1.json":
        " (predates the stage's switch to the lake's derived banding: it"
        " gated under the reference 4x2, while ingest_loop at the same SF"
        " gates under the derived r=3 shape; not re-measured)",
}

# the sf100 rehearsals' section; its figures are those of the committed
# gate_scale_sf10/sf100.json and ingest_scale_sf100.json
FOURTH_DECADE = """
## fourth decade: serving + composed loop at 5M docs (gate_scale_sf100 / ingest_scale_sf100)

Round-15 standalone rehearsals at the GenCorpus --docs-only sf100
corpus (5M docs / 275M tokens), under the corpus-derived (9,7) = 63
minhashes/row — 1.8× the (7,5) bank the 500k-doc rehearsal measured.
`gate_scale_sf10/sf100.json` and `ingest_scale_sf10/sf100.json` came
from the since-deleted `tools.GateScaleBench` / `tools.IngestScaleBench`
mains at 44c9eb5 (plain-drain `lsh_dedup`, upper-median p50). Their
StreamBench equivalents are `runMain graft.StreamBench
gate,lsh_dedup,admit_drain` and `SPARK_GRAFT_FILES_PER_TRIGGER=4
runMain graft.StreamBench ingest_loop`.

| stage | sf10 (500k docs, 7x5) rows/s | sf100 (4.75M arrivals, 9x7) rows/s | sf100 p95 batch s | sf100 state rows | sf100 state MB |
|---|---|---|---|---|---|
| gate (stateless anti-joins) | 5794 | 5952 | 72.1 | 0 | 0 |
| lsh_dedup (ownership state) | 5966 | 5089 | 90.3 | 41.9M | 2427 |
| admit_drain (total verdicts) | 4912 | 4119 | 130.4 | 41.9M | 2365 |

Gate throughput RISES across the decade despite the deeper bank (the
codegen'd one-pass `min_hashes60` bank keeps the projection flat);
the stateful stages hold within −16% at 10× the corpus and 1.8× the
depth. Ownership state reaches 42M rows / ~2.5 GB RocksDB — the one
tracks-input store, whose production bound is the TTL/compaction
horizon (the handoff that IndexCompaction + CompactionSpec pin).

Composed ingest loop at the same scale (`ingest_scale_sf100.json`):
three ~1.66M-arrival cycles from an EMPTY index, gate → admit →
exactly-once landing → minor compaction, draining ~9k rows/s per
cycle at filesPerTrigger=4 (one 1.66M-row batch per cycle — the
per-batch floor amortized exactly as the ingest_knob stage prices). Landed
4,790,822 docs vs a 4,790,119-doc batch q123 keep set: **missed_q123
= 0**, all 703 extras validated bridge-only — the stream==batch
decision equality holds at 5M docs.
""".split("\n")


def fmt(x, nd=1):
    if x is None:
        return "-"
    return f"{x:.{nd}f}"


def main():
    out_path = sys.argv[1]
    runs = []  # (sf, dict)
    for arg in sys.argv[2:]:
        sf, path = arg.split(":", 1)
        with open(path) as f:
            runs.append((float(sf), json.load(f)))
    runs.sort()

    # stage lists come from the artifact with the MOST stages, not the
    # largest SF: a partial artifact (round 13's sf10 sketch rehearsal,
    # d3878b1) carries only the two bounded sketch stages — it joins as
    # an extra column of those sections, it must not collapse the others
    def stage_keys(d, marker):
        return [k for k, v in d.items()
                if isinstance(v, dict) and marker in v]
    richest = max((r[1] for r in runs),
                  key=lambda d: len(stage_keys(d, "rows_per_sec")))
    stages = stage_keys(richest, "rows_per_sec")
    # stages only a partial artifact carries still get their section —
    # appended after the full sweep's ordering, never silently dropped
    for _, d in runs:
        for k in stage_keys(d, "rows_per_sec"):
            if k not in stages:
                stages.append(k)

    lines = [
        "# STREAM SCALING — state and throughput across scale factors",
        "",
        "One `graft.StreamBench` run per SF (multi-batch replay, RocksDB",
        "changelog checkpointing). `state rows` is the run maximum of",
        "`stateOperators.numRowsTotal`; `evicted` sums rows removed by",
        "watermark/timer cleanup. Growth over the largest SF step:",
        "`bounded` state is safe at any corpus size; `horizon-bounded`",
        "state grows with input but eviction outpaces it (state holds",
        "only the active horizon); `tracks input` state accretes — a",
        "dedup-history store that production bounds via TTL/compaction",
        "(see the operator docs).",
        "",
        "Reading `state MB`: under RocksDB the reported memoryUsedBytes",
        "has a ~34 MB FLOOR per stateful stage — the block cache and",
        "working set of the store itself, not per-row state (compare",
        "lsh_dedup: ~18k 8-byte ownership rows report ~0.3 MB under the",
        "HDFS-backed store vs ~34 MB under RocksDB). Do NOT divide",
        "state MB by state rows for a bytes/key figure; the per-key",
        "cost is the delta OVER that floor as rows grow, which at these",
        "SFs is noise. The meaningful columns at bench scale are state",
        "ROWS and the eviction counters.",
        "",
        "A stage-selection artifact (the sf10 scale rehearsal) adds a",
        "column only to its own stages. The committed gate_scale_sf10",
        "row came from the since-deleted GateScaleBench main (44c9eb5):",
        "its lsh_dedup is a plain as-fast drain, not StreamBench's",
        "kill-and-restore run, so it has no restore s and is not the",
        "same measurement as the rows above it; its batch p50 is the",
        "upper median, not StreamBench's nearest-rank p50. The",
        "committed gate_rebuild.json and ingest_knob_sf*.json came",
        "from the since-deleted GateRebuildBench and IngestKnobBench",
        "mains (d240e5a); the StreamBench gate_rebuild and",
        "ingest_knob stage objects carry the same fields.",
        "",
        "Every artifact here predates `streaming.LocalCheckpointFiles`",
        "(the java.nio checkpoint file manager): their per-batch costs",
        "include the process forks of Spark's default manager.",
        "",
    ]
    for st in stages:
        lines.append(f"## {st}")
        lines.append("")
        lines.append("| sf | in rows | rows/s | p95 batch s | state rows"
                     " | state MB | evicted | restore s |")
        lines.append("|---|---|---|---|---|---|---|---|")
        pts = []  # (sf, in_rows, state_max, removed)
        for sf, d in runs:
            v = d.get(st)
            if v is None:
                continue
            s = v.get("state") or {}
            pts.append((sf, v["in_rows"], s.get("rows_max"), s.get("removed", 0)))
            lines.append(
                f"| {sf} | {v['in_rows']} | {fmt(v['rows_per_sec'])} "
                f"| {fmt(v['batch_sec']['p95'], 2)} "
                f"| {s.get('rows_max', '-')} "
                f"| {fmt(s['mem_bytes'] / 1e6, 1) if s else '-'} "
                f"| {s.get('removed', '-')} "
                f"| {fmt(v.get('restore_s'), 2) if v.get('restore_s') is not None else '-'} |")
        lines.append("")
        with_state = [p for p in pts if p[2]]
        if len(with_state) >= 2:
            (sf0, in0, st0, _), (sf1, in1, st1, rm1) = \
                with_state[0], with_state[-1]
            in_growth = in1 / in0 if in0 else float("nan")
            st_growth = st1 / st0 if st0 else float("nan")
            if st_growth <= max(2.0, in_growth ** 0.5):
                kind = "bounded"
            elif rm1 >= 0.9 * st1:
                kind = "horizon-bounded (eviction outpaces standing state)"
            else:
                kind = "tracks input"
            lines.append(
                f"State growth sf{sf0}→sf{sf1}: input ×{in_growth:.1f}, "
                f"state rows ×{st_growth:.1f}, evicted {rm1} → **{kind}**.")
            lines.append("")
        if st in STAGE_NOTES:
            lines.extend(STAGE_NOTES[st] + [""])

    # paced-latency stages: the SLO view (latency at an offered rate),
    # not a throughput view — separate table shape
    paced = stage_keys(
        max((r[1] for r in runs),
            key=lambda d: len(stage_keys(d, "e2e_ms"))), "e2e_ms")
    if paced:
        lines.append("## latency at offered rate (paced replay)")
        lines.append("")
        lines.append("Event-to-commit latency (commit end minus the batch's")
        lines.append("scheduled admission instant) with the DSv2 source paced")
        lines.append("at a fraction of the measured as-fast drain rate —")
        lines.append("queueing delay from falling behind accumulates into the")
        lines.append("number, exactly as an arriving event experiences it.")
        lines.append("")
        lines.append("`kept up` = the engine ran a full-admission batch every")
        lines.append("interval AND commit-vs-schedule drift did not grow over")
        lines.append("the run (absolute latency alone cannot distinguish a")
        lines.append("steady per-batch cost from an accumulating backlog).")
        lines.append("The trigger interval is sized from the as-fast run's")
        lines.append("measured per-batch p50 (x1.3): an interval below the")
        lines.append("per-batch fixed cost is unsustainable at ANY offered")
        lines.append("rate, so a fixed cadence would misread tiny-SF runs as")
        lines.append("backlog. The schedule origin is the best-fit cadence")
        lines.append("(min over batches of start_k - k*interval), so the best")
        lines.append("batch's latency is exactly its execution time and any")
        lines.append("batch behind that cadence shows its queueing delay;")
        lines.append("batch 0 (one-time plan-compile/codegen/state-init cost)")
        lines.append("is excluded and reported as `warmup ms`.")
        lines.append("")
        lines.append("`paced_over` is the NEGATIVE CONTROL: deliberately")
        lines.append("offered well above the measured drain rate, it must")
        lines.append("report kept up = False with growing drift at every SF —")
        lines.append("proof the detector reads both directions, not a")
        lines.append("regression.")
        lines.append("")
        lines.append("| sf | stage | offered rows/s | e2e p50 ms | e2e p95 ms"
                     " | e2e max ms | drift growth ms | warmup ms | kept up |")
        lines.append("|---|---|---|---|---|---|---|---|---|")
        for sf, d in runs:
            for st in paced:
                v = d.get(st)
                if v is None:
                    continue
                e = v["e2e_ms"]
                lines.append(
                    f"| {sf} | {st} | {fmt(v['offered_rps'])} "
                    f"| {fmt(e['p50'])} | {fmt(e['p95'])} | {fmt(e['max'])} "
                    f"| {fmt(v.get('drift_growth_ms'))} "
                    f"| {v.get('warmup_batch_ms', '-')} "
                    f"| {v['kept_up']} |")
        lines.append("")
        if "paced_admit" in paced:
            lines.extend(["`paced_admit`:"] + ADMIT_NOTE + [""])

    # compaction handoff: state rows moved out of the store per run
    if any("lsh_compaction" in d for _, d in runs):
        lines.append("## compaction handoff (lsh_compaction)")
        lines.append("")
        lines.append("Phase-1 arrivals accrete LSH ownership state; the")
        lines.append("IndexCompaction batch job folds them into the landed")
        lines.append("gate index; phase 2 runs against the compacted gate")
        lines.append("with a fresh stream. `gate dropped` counts phase-2")
        lines.append("docs the STATELESS gate now rejects because a phase-1")
        lines.append("doc owns their bucket — decisions that needed state")
        lines.append("before the compaction (CompactionSpec pins the drop")
        lines.append("set as identical across the move). Compare phase-2")
        lines.append("state rows to lsh_dedup's full-run rows above: without")
        lines.append("the compaction a continuously-running stream holds the")
        lines.append("WHOLE corpus's buckets; with it, only the docs landed")
        lines.append("since the last compaction interval. `merge s` times")
        lines.append("the MAJOR compaction (delta epochs folded to one) —")
        lines.append("the cost that bounds how often a deployment re-bases")
        lines.append("the gate's union-read.")
        lines.append("")
        lines.append("| sf | phase-1 state rows | compact s "
                     "| phase-2 state rows | gate dropped after "
                     "| merge s | segments |")
        lines.append("|---|---|---|---|---|---|---|")
        for sf, d in runs:
            v = d.get("lsh_compaction")
            if v is None:
                continue
            seg = v.get("segments", {})
            segs = (f"{seg.get('before', '-')}→{seg.get('after', '-')}"
                    if seg else "-")
            lines.append(
                f"| {sf} | {v['phase1_state_rows']} | {fmt(v['compact_s'], 2)} "
                f"| {v['phase2_state_rows']} | {v['gate_dropped_after']} "
                f"| {fmt(v.get('merge_s'), 2)} | {segs} |")
        lines.append("")

    # gate rebuild vs index segmentation (optional artifact, the
    # gate_rebuild stage object of a StreamBench run): the MAJOR-merge
    # cadence input
    try:
        with open("gate_rebuild.json") as f:
            gr = json.load(f)
    except OSError:
        gr = None
    if gr:
        lines.append("## gate rebuild vs index segmentation (gate_rebuild)")
        lines.append("")
        lines.append("StreamBench `gate_rebuild`: the SAME corpus spread over")
        lines.append("1/4/16/64 delta epochs; `build s` is the gate's eager")
        lines.append("static-side rebuild (union-read every epoch + checkpoint")
        lines.append("both sides) — the cost a deployment pays per compaction")
        lines.append("interval and per restart. Minor compactions never")
        lines.append("invalidate the gate's decisions, so the MAJOR merge is")
        lines.append("purely this curve's economics: merge once its amortized")
        lines.append("cost beats the per-interval rebuild delta.")
        lines.append("")
        lines.append("| epochs | build s |")
        lines.append("|---|---|")
        for p in gr["points"]:
            lines.append(f"| {p['epochs']} | {p['build_s']} |")
        lines.append("")
        lines.append(
            f"MAJOR merge of the widest index: {gr['merge_s']} s, after "
            f"which the rebuild costs {gr['build_after_merge_s']} s — at "
            f"these numbers the merge pays for itself in "
            f"~{max(1, round(float(gr['merge_s']) / max(0.01, float(gr['points'][-1]['build_s']) - float(gr['build_after_merge_s']))))}"
            f" compaction intervals at the widest segmentation.")
        lines.append("")

    # composed dedup service over REPEATED compaction intervals: the
    # steady-state sawtooth, not one handoff
    if any("dedup_service" in d for _, d in runs):
        lines.append("## dedup service steady state (dedup_service)")
        lines.append("")
        lines.append("One TTL'd intra-stream collision query runs CONTINUOUSLY")
        lines.append("across all cycles; per cycle a FRESH gate is built from")
        lines.append("the live epoch index (`gate build s` — the rebuild a")
        lines.append("deployment pays after each compaction interval), the")
        lines.append("cycle's arrivals replay through gate + collision query,")
        lines.append("the landed docs fold into the index (MINOR `compact s`),")
        lines.append("and the middle cycle also runs the MAJOR merge while the")
        lines.append("query is live — the grace-period deletion contract")
        lines.append("exercised end-to-end. The service is steady iff, per")
        lines.append("cycle: `state max` plateaus (the sawtooth's climb stays")
        lines.append("O(cycle arrivals), not O(corpus)), `state settled`")
        lines.append("returns to ~0 after the TTL horizon (the drain edge),")
        lines.append("`compact s` stays O(delta) across cycles, and the epoch")
        lines.append("count follows the minor/major cadence instead of")
        lines.append("accreting. `gate dropped` GROWS across cycles because")
        lines.append("each compaction moves the previous cycle's ownership")
        lines.append("into the stateless gate — the handoff doing its job.")
        lines.append("")
        lines.append("| sf | cycle | arrivals | gate dropped | gate build s "
                     "| state max | state settled | compact s | merge s "
                     "| epochs after |")
        lines.append("|---|---|---|---|---|---|---|---|---|---|")
        for sf, d in runs:
            v = d.get("dedup_service")
            if v is None:
                continue
            for c in v["cycles"]:
                ms = c.get("merge_s", -1)
                lines.append(
                    f"| {sf} | {c['cycle']} | {c['arrivals']} "
                    f"| {c['gate_dropped']} | {fmt(c['gate_build_s'], 2)} "
                    f"| {c['state_rows_max']} | {c['state_rows_settled']} "
                    f"| {fmt(c['compact_s'], 2)} "
                    f"| {fmt(ms, 2) if ms >= 0 else '-'} "
                    f"| {c['epochs_after']} |")
        lines.append("")
        # the largest-SF artifact that actually CARRIES the section — a
        # sketch-only rehearsal joined as the top SF must not suppress
        # the steady-state verdict the full sweeps below it established
        last = next((d["dedup_service"] for _, d in reversed(runs)
                     if "dedup_service" in d), None)
        if last:
            cs = last["cycles"]
            maxes = [c["state_rows_max"] for c in cs]
            settles = [c["state_rows_settled"] for c in cs]
            compacts = [c["compact_s"] for c in cs]
            flat = (max(maxes) <= 1.5 * min(maxes)
                    and max(settles) <= 0.05 * max(maxes)
                    and max(compacts) <= 2.0 * min(compacts))
            lines.append(
                f"Largest SF: state max per cycle {maxes} (plateau "
                f"{'FLAT' if flat else 'NOT flat'}: spread "
                f"×{max(maxes) / max(1, min(maxes)):.2f}), settled "
                f"{settles}, compact s {[f'{c:.1f}' for c in compacts]} — "
                + ("the continuously-running service holds its per-interval "
                   "horizon, independent of how many cycles have passed."
                   if flat else
                   "NOT steady — investigate before claiming the service "
                   "bounds state."))
            lines.append("")

    # live keyed HLL vs the batch q134 oracle: the estimate equality at
    # every SF, and the 256-rows-per-group state bound
    if any("hll_live" in d for _, d in runs):
        lines.append("## live HLL dataset card vs batch q134 (hll_live)")
        lines.append("")
        lines.append("`streamingHllBy` maintains every (domain, lang) sketch")
        lines.append("in ONE operator — state is (group, bucket) → max rank,")
        lines.append("at most 256 rows per group and 24 emissions per")
        lines.append("register over the stream's LIFETIME, independent of")
        lines.append("input size. After the full replay, `hllEstimate` over")
        lines.append("each group's registers must EQUAL the oracle-checked")
        lines.append("batch q134 `n_hll` (`groups match` == `groups`): the")
        lines.append("incremental sketch and the batch sketch are the same")
        lines.append("integer arithmetic, so the equality is exact, not")
        lines.append("approximate.")
        lines.append("")
        lines.append("| sf | in rows | groups | groups match | state rows "
                     "| state bound (256×groups) | out rows (emissions) |")
        lines.append("|---|---|---|---|---|---|---|")
        all_match = True
        for sf, d in runs:
            v = d.get("hll_live")
            if v is None:
                continue
            s = v.get("state") or {}
            if v["groups_match"] != v["groups"]:
                all_match = False
            lines.append(
                f"| {sf} | {v['in_rows']} | {v['groups']} "
                f"| {v['groups_match']} | {s.get('rows_max', '-')} "
                f"| {v['state_rows_bound']} | {v['out_rows']} |")
        lines.append("")
        lines.append(
            "Every group's streaming estimate equals batch q134 at every "
            "SF." if all_match else
            "MISMATCH: some group's streaming estimate diverged from "
            "batch q134 — investigate before trusting the live card.")
        lines.append("")

    # live count-min vs the batch q90 oracle: per-term estimate equality
    # at every SF, and the corpus-size-INDEPENDENT 64-cell state bound
    if any("countmin_live" in d for _, d in runs):
        lines.append("## live count-min sketch vs batch q90 (countmin_live)")
        lines.append("")
        lines.append("`streamingCountMin` maintains the q90 d×w cell table")
        lines.append("incrementally — ONE state row per sketch cell, so the")
        lines.append("state bound is 4·w = 64 rows at EVERY corpus size (the")
        lines.append("strongest bound in this file: the sketch never grows")
        lines.append("with the stream, only its cell sums do). After the full")
        lines.append("replay, every vocabulary term's min-over-hash-rows")
        lines.append("estimate from the live cells must EQUAL the")
        lines.append("oracle-checked batch q90 estimate (`terms match` ==")
        lines.append("`vocab`): same md5 hash, same integer sums — exact, not")
        lines.append("approximate.")
        lines.append("")
        lines.append("| sf | in rows (tokens) | vocab | terms match "
                     "| state rows | state bound (4·w) | out rows (emissions) |")
        lines.append("|---|---|---|---|---|---|---|")
        cm_match = True
        for sf, d in runs:
            v = d.get("countmin_live")
            if v is None:
                continue
            s = v.get("state") or {}
            if v["terms_match"] != v["vocab"]:
                cm_match = False
            lines.append(
                f"| {sf} | {v['in_rows']} | {v['vocab']} "
                f"| {v['terms_match']} | {s.get('rows_max', '-')} "
                f"| {v['state_rows_bound']} | {v['out_rows']} |")
        lines.append("")
        lines.append(
            "Every term's streaming estimate equals batch q90 at every "
            "SF, with state fixed at 64 rows." if cm_match else
            "MISMATCH: some term's streaming estimate diverged from "
            "batch q90 — investigate before trusting the live sketch.")
        lines.append("")

    # the composed ingest loop: admitted == landed == folded per cycle,
    # and the end-to-end landed set audited against batch q123
    if any("ingest_loop" in d for _, d in runs):
        lines.append("## composed ingest loop (ingest_loop)")
        lines.append("")
        lines.append("The full production pipeline as ONE measured loop from")
        lines.append("an EMPTY index: per cycle, a fresh gate from the live")
        lines.append("epoch listing, gate → admit in one streaming query")
        lines.append("(single state operator), admittedOf inside foreachBatch")
        lines.append("landing each micro-batch in its own batch_id partition")
        lines.append("(exactly-once), then a MINOR compaction folding exactly")
        lines.append("the landed batch. Invariant per cycle: admitted ==")
        lines.append("landed == folded. End to end, `missed q123` must be 0")
        lines.append("(the loop never drops a doc the batch q123 rule keeps)")
        lines.append("and every `extra` must be a cross-cycle bridge whose")
        lines.append("earlier band sharers were ALL never landed (`bridge")
        lines.append("only` — the deliberate policy divergence IngestLoopSpec")
        lines.append("pins: content that duplicates nothing the dataset kept")
        lines.append("is admitted).")
        lines.append("")
        lines.append("| sf | cycle | arrivals | gate adm | admitted | landed "
                     "| folded | gate build s | drain s | batches "
                     "| s/batch | compact s | epochs |")
        lines.append("|---|---|---|---|---|---|---|---|---|---|---|---|---|")
        for sf, d in runs:
            v = d.get("ingest_loop")
            if v is None:
                continue
            for c in v["cycles"]:
                nb = c.get("batches", 0)
                per = fmt(c["drain_s"] / nb, 2) if nb else "-"
                lines.append(
                    f"| {sf} | {c['cycle']} | {c['arrivals']} "
                    f"| {c['gate_admitted']} | {c['admitted']} "
                    f"| {c['landed']} | {c['folded']} "
                    f"| {fmt(c['gate_build_s'], 2)} | {fmt(c['drain_s'], 2)} "
                    f"| {nb or '-'} | {per} "
                    f"| {fmt(c['compact_s'], 2)} | {c['epochs_after']} |")
        lines.append("")
        fpts = {d["ingest_loop"].get("files_per_trigger", 1)
                for _, d in runs if "ingest_loop" in d}
        # the knob's measured effect comes from the committed
        # ingest_knob_sf*.json artifacts (StreamBench's ingest_knob stage) —
        # read, never hardcoded, so regenerated artifacts can't drift
        # from this prose
        import glob as _glob
        knob_bits = []
        for kp in sorted(_glob.glob("ingest_knob_sf*.json")):
            try:
                with open(kp) as kf:
                    k = json.load(kf)
                rs = sorted(k["runs"], key=lambda r: r["files_per_trigger"])
                lo, hi = rs[0], rs[-1]
                assert len({r["landed"] for r in rs}) == 1, kp
                knob_bits.append(
                    f"{kp}: {lo['drain_s']:.1f} s at fpt={lo['files_per_trigger']}"
                    f" → {hi['drain_s']:.1f} s at fpt={hi['files_per_trigger']}"
                    f" ({lo['drain_s']/hi['drain_s']:.1f}×), landed"
                    f" {lo['landed']} at every setting" + KNOB_NOTES.get(kp, ""))
            except Exception as e:
                knob_bits.append(f"{kp}: unreadable ({e})")
        measured = ("MEASURED (StreamBench ingest_knob, same 12-file "
                    "arrival set, landed doc set asserted IDENTICAL "
                    "across settings): " + "; ".join(knob_bits) + ". "
                    if knob_bits else "")
        lines.append(
            f"Drain cost is PER-BATCH dominated (files per trigger = "
            f"{sorted(fpts)}): each micro-batch pays a near-constant "
            "cost (stream-static join re-plan, gate probe, state-store "
            "snapshot, offset commit, landing write) that rows barely "
            "move at these sizes, so drain_s ≈ batches × s/batch — a "
            "floor, NOT free capacity. " + measured +
            "Amortize with IngestLoop's filesPerTrigger knob "
            "(SPARK_GRAFT_FILES_PER_TRIGGER here; --files-per-trigger "
            "on graft.DedupService). Batching does not change the admit "
            "decision — within a micro-batch the ownership processor "
            "orders each signature's docs by doc_id (= arrival order), "
            "so k files in one trigger decide exactly as k triggers do "
            "(pinned in IngestLoopSpec, re-asserted by the ingest_knob "
            "stage before it reports).")
        lines.append("")
        lines.append("| sf | landed total | q123 keep | extra | missed q123 "
                     "| bridge only |")
        lines.append("|---|---|---|---|---|---|")
        for sf, d in runs:
            v = d.get("ingest_loop")
            if v is None:
                continue
            lines.append(
                f"| {sf} | {v['landed_total']} | {v['q123_keep']} "
                f"| {v['extra_admitted']} | {v['missed_q123']} "
                f"| {v['extras_bridge_only']} |")
        lines.append("")
        ok = all(
            all(c["admitted"] == c["landed"] == c["folded"]
                for c in d["ingest_loop"]["cycles"])
            and d["ingest_loop"]["missed_q123"] == 0
            and d["ingest_loop"]["extras_bridge_only"]
            for _, d in runs if "ingest_loop" in d)
        lines.append(
            "admitted == landed == folded in every cycle at every SF; no "
            "q123 keeper missed; every extra is a bridge-only admit."
            if ok else
            "INVARIANT VIOLATION in the ingest loop — see the tables above.")
        lines.append("")

    if any(sf >= 100 for sf, d in runs if "gate" in d):
        lines.extend(FOURTH_DECADE)
    while lines and not lines[-1]:
        lines.pop()
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
