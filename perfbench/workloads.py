"""The two workloads: one pass of each, and the check of its output.

A pass runs from the generated input to the complete result in a fresh
warehouse directory, through the program's public functions only, each
call timed as one operation of its layer (see spans.Calls). ``check``
runs after the pass, outside every timed call, and returns one line per
output that differs from the DuckDB expectation.

Each workload has three input sizes of the same shape: ``full``, the
measured one; ``warm``, which warm-up passes run on (a fresh JVM pays
class loading, code generation and JIT compilation per code path far
more than per row, so a tenth of the rows warms it as well as the full
input); and ``smoke``, a small input for ``--smoke``.
"""

from __future__ import annotations

import os
import shutil
import statistics

import gen
import oracle


def dir_files(root: str) -> dict[str, int]:
    """path -> size of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def file_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


class Workload:
    """Shared pass bookkeeping. Subclasses set ``name`` and ``sizes``
    and implement generate / expected / tables / run_pass / check."""

    name = ""
    sizes: dict[str, dict] = {}

    def __init__(self, spark, calls, input_dir: str, work_dir: str, size: str):
        self.spark = spark
        self.calls = calls
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.size = self.sizes[size]

    def user_bytes(self) -> int:
        """Bytes of user data handed to the program in one pass."""
        return file_bytes(os.path.join(self.input_dir, f"{t}.parquet") for t in self.tables())

    def new_pass(self, i: int) -> dict:
        wh = os.path.join(self.work_dir, f"wh{i}")
        shutil.rmtree(os.path.join(self.work_dir, f"wh{i - 1}"), ignore_errors=True)
        self.seen: dict[str, int] = {}
        self.wh_dir = wh
        return {"layer_extra": {}}

    def note_writes(self, result: dict, layer: str) -> None:
        """Record files the last call added under the warehouse: the
        bytes it wrote, also those a later call deletes."""
        now = dir_files(self.wh_dir)
        new = {p: s for p, s in now.items() if p not in self.seen}
        self.seen.update(new)
        extra = result["layer_extra"].setdefault(layer, {})
        extra["written_mb"] = extra.get("written_mb", 0.0) + sum(new.values()) / 2**20

    def finish_pass(self, result: dict, live_bytes: int) -> None:
        result["written_bytes"] = sum(self.seen.values())
        result["disk_bytes"] = sum(dir_files(self.wh_dir).values())
        result["live_bytes"] = live_bytes
        result["user_bytes"] = self.user_bytes()


def live_parquet_bytes(root: str) -> int:
    return sum(s for p, s in dir_files(root).items() if p.endswith(".parquet"))


MERGE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
              "o_orderpriority", "o_year")
MERGE_SQL = (
    "MERGE INTO orders USING chg AS s ON orders.o_orderkey = s.o_orderkey "
    "WHEN MATCHED AND s.op = 'D' THEN DELETE "
    "WHEN MATCHED THEN UPDATE SET "
    + ", ".join(f"{c} = s.{c}" for c in MERGE_COLS[1:])
    + f" WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT ({', '.join(MERGE_COLS)}) "
    f"VALUES ({', '.join('s.' + c for c in MERGE_COLS)})"
)
# exact sums (DECIMAL), so both engines agree to the cent in any order
REVENUE = "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue"
# the newest full year: recent-key updates cluster in it, and inserts
# dated within the last year land partly in it
HOT_YEAR = 1997
READ_SQL = ("SELECT o_orderpriority, count(*) AS n, " + REVENUE
            + " FROM {table} WHERE o_year = " + str(HOT_YEAR) + " GROUP BY o_orderpriority")
TRAVEL_SQL = ("SELECT count(*) AS n, count(DISTINCT o_custkey) AS customers, " + REVENUE
              + " FROM {table}")


def scanned_files(df) -> int:
    """Files read by the scans of an executed DataFrame: the sum of the
    ``numFiles`` metric over every scan node of its final plan."""

    def walk(node) -> int:
        metrics = node.metrics()
        n = int(metrics.apply("numFiles").value()) if metrics.contains("numFiles") else 0
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            inner = [node.executedPlan()]
        elif name.endswith("QueryStage"):
            inner = [node.plan()]
        else:
            kids = node.children()
            inner = [kids.apply(i) for i in range(kids.size())]
        return n + sum(walk(k) for k in inner)

    return walk(df._jdf.queryExecution().executedPlan())


class StarEtl(Workload):
    """The reference's five jobs over the parquet Warehouse, then a change
    stream merged into its orders table, kept in the txlog format and
    partitioned by year: per batch one MERGE, one partition-pruned read
    and one read of the version before the MERGE; OPTIMIZE and VACUUM
    once, halfway through the stream."""

    name = "star_etl"
    star_tables = ("lineitem", "orders", "customer", "supplier", "nation")
    writing = ("pipeline.ingest", "pipeline.dimensions", "pipeline.fact", "pipeline.aggregates")
    sizes = {
        "full": {"orders": 100_000, "batches": 6, "batch_rows": 1000},
        "warm": {"orders": 10_000, "batches": 2, "batch_rows": 100},
        "smoke": {"orders": 1500, "batches": 2, "batch_rows": 20},
    }

    @classmethod
    def generate(cls, rng, out: str, size: str) -> None:
        sz = cls.sizes[size]
        star = gen.star_tables(rng, out, sz["orders"], 0.01)
        gen.cdc_batches(rng, out, star["orders"], sz["batches"], sz["batch_rows"])

    @classmethod
    def expected(cls, input_dir: str, size: str) -> dict:
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans import ORACLES

        sz = cls.sizes[size]
        out = oracle.star_expected(input_dir, ORACLES)
        out["cdc"] = oracle.cdc_expected(input_dir, sz["batches"], cls.compact_after(sz),
                                         MERGE_COLS, READ_SQL, TRAVEL_SQL)
        return out

    @staticmethod
    def compact_after(size: dict) -> int:
        return size["batches"] // 2 - 1

    def tables(self) -> list[str]:
        return list(self.star_tables) + [f"chg_{b}" for b in range(self.size["batches"])]

    def run_pass(self, i: int) -> dict:
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans import pipeline as P
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources import Catalog

        result = self.new_pass(i)
        wh = P.Warehouse(self.spark, self.wh_dir)
        cat = Catalog(self.spark, self.input_dir)
        stages = [
            ("pipeline.ingest", P.stage_ingest, (wh, cat)),
            ("pipeline.dimensions", P.stage_dimensions, (wh, cat)),
            ("pipeline.fact", P.stage_fact, (wh, cat)),
            ("pipeline.aggregates", P.stage_aggregates, (wh,)),
            ("pipeline.quality", P.stage_quality, (wh,)),
        ]
        for layer, fn, args in stages:
            out = self.calls.run(layer, fn, *args)
            if layer in self.writing:
                self.note_writes(result, layer)
        result["quality"] = out
        txlog = P.TxLogWarehouse(self.spark, os.path.join(self.wh_dir, "txlog"))
        self.change_stream(result, txlog)
        star_bytes = sum(s for p, s in dir_files(self.wh_dir).items()
                         if p.endswith(".parquet") and "/txlog/" not in p)
        self.finish_pass(result, star_bytes + result["txlog_live_bytes"])
        return result

    def query(self, layer: str, wh, sql: str):
        """A query through ``Warehouse.sql``, collected to the driver;
        returns its result and the number of files its scans read."""
        df = None

        def body():
            nonlocal df
            df = wh.sql(sql)
            return df.toArrow()

        table = self.calls.run(layer, body)
        return table, scanned_files(df)

    def change_stream(self, result: dict, wh) -> None:
        from pyspark.sql import functions as F

        read = self.spark.read.parquet
        orders = read(os.path.join(self.input_dir, "orders.parquet"))
        self.calls.run("txlog.load", wh.write_snapshot,
                       orders.withColumn("o_year", F.year("o_orderdate")), "orders",
                       partition_by=["o_year"])
        self.note_writes(result, "txlog.load")
        result.update(reads=[], travels=[], merges=[], read_ratio=[], travel_ratio=[])
        for b in range(self.size["batches"]):
            read(os.path.join(self.input_dir, f"chg_{b}.parquet")).createOrReplaceTempView("chg")
            row = self.calls.run("txlog.merge", lambda: wh.sql(MERGE_SQL).collect()[0])
            self.note_writes(result, "txlog.merge")
            result["merges"].append(int(row["version"]))
            live = int(wh.detail("orders").collect()[0]["num_files"])
            got, n = self.query("txlog.read", wh, READ_SQL.format(table="orders"))
            result["reads"].append(got)
            result["read_ratio"].append(n / live)
            before = f"orders VERSION AS OF {row['version'] - 1}"
            got, n = self.query("txlog.time_travel", wh, TRAVEL_SQL.format(table=before))
            result["travels"].append(got)
            result["travel_ratio"].append(n / live)
            if b == self.compact_after(self.size):
                result["compacted"] = self.calls.run("txlog.optimize", wh.optimize_table,
                                                     "orders")
                self.note_writes(result, "txlog.optimize")
                self.calls.run("txlog.vacuum", wh.vacuum_table, "orders", retain_last=2)
        self.txlog_facts(result, wh)

    def txlog_facts(self, result: dict, wh) -> None:
        """Table facts from the log, read after the stream: live files
        and bytes, commits, and the files the MERGEs and the OPTIMIZE
        replaced; and the two tables the check compares in full."""
        detail = wh.detail("orders").collect()[0]
        history = {int(h["version"]): int(h["n_removes"] or 0)
                   for h in wh.history("orders").collect()}
        merged = set(result["merges"])
        extra = result["layer_extra"]
        extra["txlog.merge"].update(
            files_rewritten=sum(n for v, n in history.items() if v in merged),
            files_live=int(detail["num_files"]),
            commits=len(history),
        )
        extra["txlog.optimize"]["files_rewritten"] = history.get(result["compacted"], 0)
        extra["txlog.read"] = {"files_read_ratio": statistics.median(result["read_ratio"])}
        extra["txlog.time_travel"] = {
            "files_read_ratio": statistics.median(result["travel_ratio"])}
        result["txlog_live_bytes"] = int(detail["size_bytes"])
        result["final"] = wh.read("orders").toArrow()
        mid = result["merges"][self.compact_after(self.size)]
        result["mid"] = wh.sql(f"SELECT * FROM orders VERSION AS OF {mid}").toArrow()

    def check(self, result: dict, expected: dict) -> list[str]:
        bad = []
        for table, query in (("star_fact", "star_fact"), ("pair_daily", "agg_pair_daily"),
                             ("time_analysis", "agg_time"), ("top_pairs", "top_pairs")):
            got = oracle.table_fingerprint(os.path.join(self.wh_dir, table))
            if got != expected[query]:
                bad.append(f"{table}: {got[:2]} != oracle {query} {expected[query][:2]} or values differ")
        q = {k: (bool(v) if k == "passed" else int(v)) for k, v in result["quality"].items()}
        if q != expected["dq_checks"]:
            bad.append(f"dq_checks: {q} != {expected['dq_checks']}")
        cdc = expected["cdc"]
        for what in ("reads", "travels"):
            for b, (table, want) in enumerate(zip(result[what], cdc[what])):
                got = oracle.arrow_fingerprint(table)
                if got != want:
                    bad.append(f"batch {b} {what[:-1]}: {got[:2]} != replay {want[:2]} or values differ")
        for what in ("final", "mid"):
            got = oracle.arrow_fingerprint(result[what])
            if got != cdc[what]:
                bad.append(f"{what} orders: {got[:2]} != replay {cdc[what][:2]} or values differ")
        return bad


class CorpusDedup(Workload):
    """The LLM-data path: the registry queries for curation,
    near-duplicate clusters and pairs, product-quantized top-k search and
    semantic dedup. The query function is the construct call (it builds
    the DataFrame, with any eager jobs); writing or collecting its result
    is the execute call."""

    name = "corpus_dedup"
    layers = {
        "curate_documents": "curation.curate_documents",
        "near_dup_clusters": "dedup.embedding_near_dup_clusters",
        "minhash_lsh_pairs": "dedup.minhash_lsh_pairs",
        "ann_pq_topk": "similarity.ann_pq_topk",
        "semantic_dedup": "similarity.semantic_dedup",
    }
    # the corpus passes are bound by per-job work, not rows, so the
    # warm-up input is as large as the measured one
    sizes = {"full": {"docs": 150}, "warm": {"docs": 150}, "smoke": {"docs": 100}}

    @classmethod
    def generate(cls, rng, out: str, size: str) -> None:
        n = cls.sizes[size]["docs"]
        gen.corpus_tables(rng, out, n, n)

    @classmethod
    def expected(cls, input_dir: str, size: str) -> dict:
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans import ORACLES

        return oracle.corpus_expected(input_dir, ORACLES, list(cls.layers))

    def tables(self) -> list[str]:
        return ["documents", "embeddings"]

    def run_pass(self, i: int) -> dict:
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans import QUERIES
        from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import Warehouse

        result = self.new_pass(i)
        wh = Warehouse(self.spark, self.wh_dir)
        result["tables"] = {}
        for query, layer in self.layers.items():
            df = self.calls.run(layer, QUERIES[query], self.spark, self.input_dir,
                                part="construct")
            if query == "curate_documents":
                self.calls.run(layer, wh.write, df, "curated_docs", part="execute")
                self.note_writes(result, layer)
            else:
                result["tables"][query] = self.calls.run(layer, df.toArrow, part="execute")
        self.finish_pass(result, live_parquet_bytes(self.wh_dir))
        return result

    def check(self, result: dict, expected: dict) -> list[str]:
        bad = []
        got = oracle.table_fingerprint(os.path.join(self.wh_dir, "curated_docs"))
        if got != expected["curate_documents"]:
            bad.append(f"curated_docs {got[:2]} != oracle {expected['curate_documents'][:2]} or values differ")
        for query, table in result["tables"].items():
            got = oracle.arrow_fingerprint(table)
            if got != expected[query]:
                bad.append(f"{query} {got[:2]} != oracle {expected[query][:2]} or values differ")
        return bad


WORKLOADS = {w.name: w for w in (StarEtl, CorpusDedup)}
