"""The workloads: inputs, operation order, output checks and sizes.

Each workload's `prepare(seed, input_dir, size, n_passes)` generates from
the seed the inputs for the untimed pass 0 and `n_passes` timed passes and
returns (spec, checker): `spec` is what the harness runs, `checker(result,
ops)` makes the checks that need the generated truth and returns (extra
failed operations, notes). Operations run in whole passes so
every run sees the same mix.
"""
import os

import numpy as np

import gen
import oracle

TAIL_PERCENTILE = 90  # op_tail_s, nearest rank
# A pass takes 3.5-5 s on a 4-core machine; counting it as 3.5 s of
# --seconds makes a 10 s run time 3 passes, enough operations for a steady
# median and p90 while the whole run, setup included, stays near 40 s.
SECONDS_PER_PASS = 3.5


def passes(seconds, size):
    """Timed passes of a run: a fixed number derived from --seconds, so two
    runs (or two versions of the engine) always do the same work."""
    if size == "smoke":
        return 1
    return max(2, round(seconds / SECONDS_PER_PASS))  # every op timed at least twice


def _orders(rng, items, n):
    return [[items[i] for i in rng.permutation(len(items))] for _ in range(n)]


class Catalog:
    """catalog_mix: catalog queries over generated tables."""

    def __init__(self, queries, sf, smoke_sf):
        self.queries = queries
        self.sf = sf
        self.smoke_sf = smoke_sf

    def prepare(self, seed, input_dir, size, n_passes):
        rng = np.random.default_rng(seed)
        sf = self.sf if size == "full" else self.smoke_sf
        rows = gen.catalog(rng, sf, input_dir)
        spec = {"queries": self.queries, "passes": _orders(rng, self.queries, n_passes + 1),
                "sizes": {"sf": sf, "rows": rows, "queries": len(self.queries)}}

        def check(res, ops):
            run_dir = os.path.dirname(input_dir)
            bad = oracle.check_catalog(input_dir, os.path.join(run_dir, "tmp"),
                                       res["extra"]["oracle_sql"], os.path.join(run_dir, "reference"))
            wrong = [o for o in ops if o["ok"] and o["kind"] in bad]
            return len(wrong), [f"ORACLE {q}: {why}" for q, why in sorted(bad.items())]
        return spec, check


class EtlBatches:
    """etl_batches: WalmartPipeline.run over generated batches, the largest
    the size of the reference input (FIXTURES.md §1)."""
    SALES_ROWS = [gen.REFERENCE_SALES_ROWS * k // 4 for k in (1, 2, 3, 4)]
    SMOKE_ROWS = [500, 800]

    def prepare(self, seed, input_dir, size, n_passes):
        rng = np.random.default_rng(seed)
        sizes = self.SALES_ROWS if size == "full" else self.SMOKE_ROWS
        con = oracle.connect(os.path.join(os.path.dirname(input_dir), "tmp"))
        batches = []
        for i, n in enumerate(sizes):
            csv_path, pq_path, nbytes = gen.etl_batch(rng, n, input_dir, f"batch{i}")
            batches.append({"csv": csv_path, "parquet": pq_path, "bytes": nbytes,
                            "expect": oracle.etl_expected(con, csv_path, pq_path)})
        con.close()
        spec = {"batches": batches, "passes": _orders(rng, list(range(len(sizes))), n_passes + 1),
                "sizes": {"grocery_sales_rows": sizes,
                          "extra_data_rows_per_sales_row": gen.EXTRA_ROWS_PER_SALES_ROW}}
        return spec, lambda res, ops: (0, [])


class TableCommits:
    """table_commits: one VersionedTable under a seeded write/read mix."""

    def prepare(self, seed, input_dir, size, n_passes):
        rng = np.random.default_rng(seed)
        initial, batch = (10_000, 1_000) if size == "full" else (500, 50)
        # two warm-up blocks and one block per timed pass
        ops, history = gen.table_plan(rng, input_dir, initial, batch, n_passes + 2)
        spec = {"ops": ops, "block_size": len(gen.TABLE_BLOCK),
                "compact_target_bytes": 8 << 20,
                "sizes": {"initial_rows": initial, "batch_rows": batch,
                          "ops_per_block": len(gen.TABLE_BLOCK)}}

        def check(res, ops_done):
            extra = res["extra"]
            v = extra["version"]
            if extra["latest_version"] != v:
                return 1, [f"TABLE latest version {extra['latest_version']} != last commit {v}"]
            why = oracle.check_table(extra["rows"], history[v])
            return (1, [f"TABLE final snapshot v{v}: {why}"]) if why else (0, [])
        return spec, check


CATALOG_MIX = [
    # ops.Core: the reference's group-by-month shape
    "q11_group_agg",
    # ops.Relational, planned through graft.plans' native top-k
    "q123_native_topk",
    # ops.Sketching
    "q187_bloom_fpr",
    # ops.Layout over graft.sources gcol tables built at warm-up
    "q329_gcol_merge", "q331_gcol_mor",
    # ops.Dedup: SimHash signatures, Jaro-Winkler linkage (native kernels)
    "q165_hamming_search", "q140_jaro_linkage",
    # ops.Similarity: LSH banding ANN
    "q28_lsh_ann",
    # ops.TextAnalysis
    "q24_text_stats",
    # ops.Multimodal: image dHash
    "q189_image_dhash",
]

WORKLOADS = {
    "etl_batches": EtlBatches(),
    "catalog_mix": Catalog(CATALOG_MIX, 0.1, 0.001),
    "table_commits": TableCommits(),
}

# ---- per-layer metrics ---------------------------------------------------

MODULES = ["ops.Core", "ops.Relational", "ops.Sketching", "ops.Layout", "ops.Dedup",
           "ops.Similarity", "ops.TextAnalysis", "ops.Multimodal"]

LAYERS = (
    [(f"etl.{s}_s", "s") for s in ("extract", "transform", "aggregate", "load", "validate")]
    + [("etl.scan_bytes_per_input_byte", "ratio"), ("etl.jobs_per_op", "count")]
    + [(f"{m}.op_s", "s") for m in MODULES] + [("plans.op_s", "s")]
    + [(f"table.{k}_s", "s") for k in ("append", "merge", "delete", "compact", "snapshot",
                                         "time_travel", "changes")]
    + [("table.commit_retries", "count"), ("table.active_files", "count"),
       ("table.bytes_written_per_user_byte", "ratio")]
    + [("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
       ("spark.tasks_per_op", "count"), ("spark.driver_gap_s", "s"), ("spark.busy_frac", "ratio"),
       ("spark.executor_cpu_s", "s"), ("spark.shuffle_write_bytes_per_op", "bytes"),
       ("spark.spill_bytes", "bytes")]
    + [("codegen.compile_s", "s"), ("codegen.compiles", "count"),
       ("codegen.setup_compiles", "count")]
    + [("jvm.gc_s", "s"), ("jvm.peak_heap_mb", "MB")]
    + [("trace.overhead_s", "s")]
)
_UNITS = dict(LAYERS)


def layer_unit(name):
    return _UNITS[name]


def all_layers(measured):
    """Every per-layer metric; a layer the workload never calls reads 0."""
    return {name: float(measured.get(name, 0.0)) for name, _ in LAYERS}
