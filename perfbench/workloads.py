"""The benchmark's workloads: inputs, harness options and output checks."""
import os
import random
from dataclasses import dataclass, field

import gen_inputs
import mhw_ref
import oracle

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OLIVER = os.path.join(ROOT, "src/test/resources/fixtures/oliver")

# mhw_grid input make-up
GRID_LAT, GRID_LON = 2, 3
OLIVER_CELLS = 2
MISSING_CELL_SHARE = 0.25
MISSING_DAY_SHARE = 0.01

# sf0.1 queries drawn from the inventory's families (see README.md).
QUERY_SAMPLE = [
    "dedup_minhash",  # BenchCorpus.Flagships: MinHash artifact, then a memo hit
    "q1_pricing",  # an aggregate count() under-measures
    "stream_hll",  # a stream twin
]
STREAM_TWINS = [
    "stream_hll", "stream_kmv", "stream_quantile", "stream_benford",
    "stream_click_attr", "stream_ks", "stream_sessionize", "stream_upsert",
]

# Faults of the program that the mhw_grid check finds on the cell with
# missing days in every run. An operation whose output is exactly what its
# fault makes of it (mhw_ref.check models both) counts as failed.
KNOWN_FAULTS = {
    "bp_detrend": "Mhw.detrendDailyFit counts rows whose value is missing in n, sum(t) and "
                  "sum(t*t) but not in sum(y) and sum(t*y), so the fitted trend is biased",
    "bp_clim_thresh": "Graft.dailySeries turns NaN observations into nulls, so the "
                      "best-practice threshold skips missing days instead of giving NaN "
                      "(strict skipna never fires on API input)",
}

# How far the build, Catalyst and execution spans of an operation may fall
# short of (or overlap beyond) its wall time in a traced run, as a share of
# the wall time (of 0.5 s for shorter operations).
COVERAGE_TOL = 0.1

@dataclass
class Check:
    correct: bool = True
    failed_ops: set = field(default_factory=set)
    notes: list = field(default_factory=list)


class MhwGrid:
    def make_inputs(self, data, seed):
        return gen_inputs.make_grid(data, seed, os.path.join(OLIVER, "series.csv"), GRID_LAT,
                                    GRID_LON, OLIVER_CELLS, MISSING_CELL_SHARE, MISSING_DAY_SHARE)

    def jvm_opts(self, data, meta, seed):
        return {"data": data}

    def check(self, out, data, meta):
        fails, notes = mhw_ref.check(out, data, meta, OLIVER)
        # a known fault, in the shape it has today, counts its operation as
        # failed; any other disagreement means the program's output is
        # wrong: the run fails
        expected = {op for op, msgs in fails.items()
                    if op in KNOWN_FAULTS and all(known for _, known in msgs)}
        notes += [f"{op} failed: {msg}" for op, msgs in sorted(fails.items()) for msg, _ in msgs]
        notes += [f"{op}: known fault: {KNOWN_FAULTS[op]}" for op in sorted(expected)]
        return Check(correct=set(fails) == expected, failed_ops=set(fails), notes=notes)


class Queries:
    def __init__(self, names):
        self.names = names

    def make_inputs(self, data, seed):
        gen_inputs.make_tables(data)
        order = list(self.names)
        random.Random(seed).shuffle(order)
        return {"order": order}

    def jvm_opts(self, data, meta, seed):
        return {"data": data, "ops": ",".join(meta["order"])}

    def check(self, out, data, meta):
        mismatched, twin_failures, notes = oracle.check(
            out, data, meta["order"], os.path.join(ROOT, ".bench_build", "oracle"))
        return Check(correct=not twin_failures, failed_ops=set(mismatched),
                     notes=notes + twin_failures)


WORKLOADS = {
    "mhw_grid": MhwGrid(),
    "query_sample": Queries(QUERY_SAMPLE),
    "stream_twins": Queries(STREAM_TWINS),
}
