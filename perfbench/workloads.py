"""The benchmark's workloads: inputs, one op, and the output check.

Each workload is a closed loop with one client: the main thread runs
ops back to back.  ``unit()`` runs one op, checks its output and returns
the op time.  Work done only to prepare or check an op (copying the
base store, staging a shard, dropping the database afterwards, the
checksum query) is never inside an op time.  See NOTES.md for why each workload exists.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
from gen import DIM, EMB_DUP, EXACT_DUP, TEXT_DUP
from pyspark.sql import functions as F
from pyspark.sql.window import Window

HERE = os.path.dirname(os.path.abspath(__file__))

#: generated sizes: a fiftieth of the loader's full-size target and a
#: twenty-fifth of the corpus's, same ratios (300k-row store : 5k-row
#: batch = 60 : 1; 50k documents, 10 shards).  Op cost here is almost all
#: per-job overhead: a 5x larger store or corpus changes it by < 10%.
SNOWFLAKE_ROWS = 6_000
BATCH_ROWS = SNOWFLAKE_ROWS // 60
CORPUS_DOCS = 2_000
SHARDS = 10
#: a dedup op fails its check below these (planted truth; the MinHash
#: and hyperplane LSH settings give ~0.99 recall on these duplicates)
MIN_RECALL = 0.95
MIN_KEPT = 0.99
#: the stream part of a corpus op has seen ~35 duplicates, so one or two
#: misses move its own recall by 3-6%: its floor is looser, and the
#: pooled share must still meet MIN_RECALL
MIN_PART_RECALL = 0.85

DDL = """
CREATE TABLE region (id INTEGER PRIMARY KEY, region_name TEXT UNIQUE);
CREATE TABLE nation (
    id INTEGER PRIMARY KEY,
    nation_name TEXT UNIQUE,
    region_id INTEGER REFERENCES region (id)
);
CREATE TABLE customer (
    id INTEGER PRIMARY KEY,
    customer_name TEXT UNIQUE,
    customer_segment TEXT,
    nation_id INTEGER REFERENCES nation (id)
);
CREATE TABLE orders (
    id INTEGER PRIMARY KEY,
    order_key TEXT UNIQUE,
    order_date DATE,
    order_priority TEXT,
    customer_id INTEGER REFERENCES customer (id)
);
CREATE TABLE line (
    id INTEGER PRIMARY KEY,
    line_number INTEGER,
    quantity INTEGER,
    price REAL,
    order_id INTEGER REFERENCES orders (id)
);
"""
TABLES = ["region", "nation", "customer", "orders", "line"]
FLAT_COLS = [
    "region_name",
    "nation_name",
    "customer_name",
    "customer_segment",
    "order_key",
    "order_date",
    "order_priority",
    "line_number",
    "quantity",
    "price",
]

#: the benchmark's own reconstruction of the stored snowflake: plain
#: inner joins over the raw catalog tables, independent of the
#: connector's views and of ``Schema.get_compare_query``
STORED_FLAT_SQL = """
SELECT r.region_name, n.nation_name, c.customer_name, c.customer_segment,
       o.order_key, o.order_date, o.order_priority,
       l.line_number, l.quantity, l.price
FROM {db}.line l
JOIN {db}.orders o ON l.order_id = o.id
JOIN {db}.customer c ON o.customer_id = c.id
JOIN {db}.nation n ON c.nation_id = n.id
JOIN {db}.region r ON n.region_id = r.id
"""



def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def checksum(df) -> tuple[int, int, int]:
    """Order-independent multiset checksum of the flat columns."""
    row = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in FLAT_COLS]
    )
    r = df.agg(
        F.count(F.lit(1)),
        F.sum(F.hash(row).cast("bigint")),
        F.sum(F.xxhash64(row) % F.lit(1_000_000_007)),
    ).first()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


class Workload:
    name = ""
    #: ``gen.py`` arguments that make this workload's inputs
    gen_args: tuple[str, ...] = ()

    @classmethod
    def start_inputs(cls, tmp: str, seed: int) -> subprocess.Popen:
        """Start the seeded generator in its own process, so it runs
        while the Spark session starts."""
        out = os.path.join(tmp, "input")
        cmd = [sys.executable, os.path.join(HERE, "gen.py"), *cls.gen_args, "--seed", str(seed), "--out", out]
        return subprocess.Popen(cmd)

    def __init__(self, spark, tmp: str, seed: int, tracer, gen: subprocess.Popen) -> None:
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.tracer = tracer
        self.gen = gen
        self.shares: dict = {}
        #: the stream's last micro-batch, for the traced run
        self.last: dict = {}

    def setup(self) -> None:
        raise NotImplementedError

    def _await_inputs(self) -> str:
        """Wait for the generator; load its shares and return the inputs'
        directory."""
        if self.gen.wait() != 0:
            raise RuntimeError(f"input generator exited with code {self.gen.returncode}")
        out = os.path.join(self.tmp, "input")
        with open(os.path.join(out, "shares.json")) as fh:
            self.shares = json.load(fh)
        return out

    def unit(self, i: int) -> dict:
        """Run op *i* (-1: the warm-up) and check it.  Returns the op
        times (``samples``), ``ok`` and the check's measurements."""
        raise NotImplementedError

    def warm(self) -> None:
        """One untimed op before timing starts."""
        self.unit(-1)

    def layer_counts(self) -> dict:
        """Benchmark-side counts of the last traced unit."""
        return {}

    def close(self) -> None:
        """Stop what the workload keeps running between ops."""


class _Snowflake(Workload):
    """Shared by both loader workloads: inputs and the stored-data check."""

    gen_args = ("snowflake", "--rows", str(SNOWFLAKE_ROWS), "--batch", str(BATCH_ROWS))

    def _inputs(self) -> None:
        out = self._await_inputs()
        self.flat_path = os.path.join(out, "flat.parquet")
        self.batch_path = os.path.join(out, "batch.parquet")
        self.flat = self.spark.read.parquet(self.flat_path)
        self.batch = self.spark.read.parquet(self.batch_path)

    def _db_dir(self, db: str) -> str:
        return os.path.join(self.tmp, "warehouse", f"{db}.db")

    def _check(self, db: str, expected: tuple, planted: int) -> dict:
        for t in TABLES:
            self.spark.catalog.refreshTable(f"{db}.{t}")
        stored = checksum(self.spark.sql(STORED_FLAT_SQL.format(db=db)))
        # extra rows: planted duplicates stored twice; missing: rows lost
        extra = max(0, stored[0] - expected[0])
        missing = max(0, expected[0] - stored[0])
        return dict(
            ok=stored == expected,
            recall=1.0 - min(extra, planted) / planted if planted else 1.0,
            kept=1.0 - missing / expected[0],
            store_bytes=tree_bytes(self._db_dir(db)),
            input_bytes=self.input_bytes,
        )

    def _drop(self, db: str) -> None:
        self.spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(self._db_dir(db), ignore_errors=True)


class SnowflakeFresh(_Snowflake):
    """Open a fresh database, run the 5-table DDL, load the flat frame
    with exact validation, commit."""

    name = "snowflake_fresh"

    def setup(self) -> None:
        self._inputs()
        self.expected = checksum(self.flat.distinct())
        self.planted = self.shares["fresh_planted_dup_rows"]
        self.input_bytes = os.path.getsize(self.flat_path)

    def unit(self, i: int) -> dict:
        from sql_autoloader_spark import SparkConnector

        db = f"fresh_{i + 1}"
        t0 = time.perf_counter()
        with self.tracer.span("op"):
            conn = SparkConnector(self.spark, database=db)
            conn.execute_ddl(DDL)
            with conn:
                conn.load(self.flat)
        dt = time.perf_counter() - t0
        res = self._check(db, self.expected, self.planted)
        self._drop(db)
        res.update(samples=[dt])
        return res


class SnowflakeIncremental(_Snowflake):
    """Against a stored base, open a new connector and load a small batch
    (replays + mostly existing dimension members) with ``exact=False``."""

    name = "snowflake_incremental"

    def setup(self) -> None:
        from sql_autoloader_spark import SparkConnector

        self._inputs()
        base = SparkConnector(self.spark, database="base")
        base.execute_ddl(DDL)
        with base:
            # set-up only: the store is the input's content either way
            base.load(self.flat, compare=False)
        self.expected = checksum(self.flat.unionByName(self.batch).distinct())
        self.planted = self.shares["batch_replay_rows"]
        self.input_bytes = os.path.getsize(self.flat_path) + os.path.getsize(self.batch_path)

    def warm(self) -> None:
        """The base store build is this workload's untimed warm-up op: a
        load through the same connector (the run budget has no room for
        a second one)."""

    def unit(self, i: int) -> dict:
        from sql_autoloader_spark import SparkConnector

        db = f"incr_{i + 1}"
        # every op starts from the same stored base: a private copy of it,
        # which the opening connector adopts like a new process would
        shutil.copytree(self._db_dir("base"), self._db_dir(db))
        t0 = time.perf_counter()
        with self.tracer.span("op"):
            conn = SparkConnector(self.spark, database=db)
            with conn:
                conn.load(self.batch, exact=False)
        dt = time.perf_counter() - t0
        res = self._check(db, self.expected, self.planted)
        self._drop(db)
        res.update(samples=[dt])
        return res


class CorpusDedup(Workload):
    """One op dedups the corpus both ways the library offers:
    - a batch pass over the whole corpus: exact fingerprints, MinHash-LSH
      text pairs, embedding near-dup pairs, connected components, keep
      the best document per component, write to the ``noop`` sink;
    - one micro-batch of ``fuzzy_dedup_stream``, which admits the next
      corpus shard against its growing signature store.
    Shards arrive one at a time (atomic rename into the source directory)
    and each is drained before the next lands, so every run measures the
    same batches in the same order.  After the last shard a new stream
    starts on fresh directories."""

    name = "corpus_dedup"
    gen_args = ("corpus", "--docs", str(CORPUS_DOCS), "--shards", str(SHARDS))

    def _tally(self, kept_ids: np.ndarray, dup_kinds: tuple[int, ...], seen: int | None = None) -> np.ndarray:
        """Among the first *seen* documents (default: all): planted
        duplicates of *dup_kinds* removed, their count, other documents
        kept, their count."""
        kind = self.kind[:seen]
        kept = np.zeros(len(kind), bool)
        kept[kept_ids] = True
        dup = np.isin(kind, dup_kinds)
        return np.array([(~kept[dup]).sum(), dup.sum(), kept[~dup].sum(), (~dup).sum()])

    def setup(self) -> None:
        out = self._await_inputs()
        self.kind = np.load(os.path.join(out, "truth.npz"))["kind"]
        self.shard_dir = os.path.join(out, "shards")
        self.docs = self.spark.read.parquet(os.path.join(out, "corpus.parquet"))
        self.schema = self.docs.schema
        self.shards = sorted(os.listdir(self.shard_dir))
        self.frames: dict = {}
        self.query = None
        self.n_streams = 0

    def _pipeline(self, docs):
        from sql_autoloader_spark.functions import dedup, similarity, text

        docs = docs.withColumn("fp", text.fingerprint_md5(F.col("text")))
        distinct = dedup.exact_dedup(docs, ["fp"], id_col="id")
        text_pairs = dedup.minhash_lsh_pairs(distinct, id_col="id", text_col="text")
        emb_pairs = similarity.embedding_neardup_pairs(distinct, id_col="id", vec_col="embedding", dim=DIM)
        pairs = text_pairs.select("id_a", "id_b").unionByName(emb_pairs.select("id_a", "id_b"))
        components = dedup.connected_components(pairs)
        best = Window.partitionBy("component").orderBy(F.desc("quality"), F.asc("id"))
        kept = (
            distinct.join(components, on="id", how="left")
            .withColumn("component", F.coalesce("component", "id"))
            .withColumn("__rank", F.row_number().over(best))
            .where(F.col("__rank") == 1)
            .drop("__rank", "component")
        )
        self.frames = {"emb_pairs": emb_pairs, "pairs": pairs, "components": components}
        return kept

    def _start(self) -> None:
        from sql_autoloader_spark.streaming import pipeline

        self.n_streams += 1
        self.work = os.path.join(self.tmp, f"stream_{self.n_streams}")
        self.src = os.path.join(self.work, "src")
        os.makedirs(self.src)
        stream = self.spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).parquet(self.src)
        self.query = pipeline.fuzzy_dedup_stream(
            stream,
            id_col="id",
            text_col="text",
            store_path=os.path.join(self.work, "store"),
            out_path=os.path.join(self.work, "out"),
            checkpoint_dir=os.path.join(self.work, "checkpoint"),
            trigger_available_now=False,
        )
        self.fed = 0

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
            shutil.rmtree(self.work, ignore_errors=True)

    def _stage(self) -> tuple[str, str]:
        """Copy the next shard into the source directory under a hidden
        name; returns (staged, final) paths."""
        if self.query is None or self.fed == len(self.shards):
            self.close()
            self._start()
        shard = self.shards[self.fed]
        staged = os.path.join(self.src, f".{shard}")
        shutil.copy(os.path.join(self.shard_dir, shard), staged)
        return staged, os.path.join(self.src, shard)

    def warm(self) -> None:
        """Untimed: the stream starts and admits the first shard while a
        batch pass runs beside it (both cold, so they overlap), so the
        timed batches all probe a non-empty store."""
        staged, final = self._stage()
        os.rename(staged, final)
        self._pipeline(self.docs).write.format("noop").mode("overwrite").save()
        self.query.processAllAvailable()
        self.fed += 1

    def unit(self, i: int) -> dict:
        staged, final = self._stage()
        batch_id = self.fed
        t0 = time.perf_counter()
        with self.tracer.span("op"):
            kept = self._pipeline(self.docs)
            kept.write.format("noop").mode("overwrite").save()
            os.rename(staged, final)
            self.query.processAllAvailable()
        dt = time.perf_counter() - t0
        self.fed += 1
        history = self.query.recentProgress
        progress = [p for p in history if p.batchId == batch_id and p.numInputRows > 0]
        if len(progress) != 1:
            return dict(ok=False, samples=[])
        p = progress[0]
        seen = sum(q.numInputRows for q in history)

        # batch pass: every planted duplicate kind, over the whole corpus
        ids = np.asarray(kept.select("id").toArrow().column(0).to_numpy(), np.int64)
        # stream: text duplicates only (embedding-near ones have their own
        # text), over the documents fed so far
        out = self.spark.read.parquet(os.path.join(self.work, "out")).select("id")
        admitted = np.asarray(out.toArrow().column(0).to_numpy(), np.int64)
        parts = [self._tally(ids, (EXACT_DUP, TEXT_DUP, EMB_DUP)), self._tally(admitted, (EXACT_DUP, TEXT_DUP), seen=seen)]
        # the metrics and floors pool both parts; each part has its own
        # looser recall floor
        tally = parts[0] + parts[1]
        floors = all(t[0] >= MIN_PART_RECALL * t[1] for t in parts)
        floors &= tally[0] >= MIN_RECALL * tally[1] and tally[2] >= MIN_KEPT * tally[3]
        self.last = {"progress": [p], "run_id": str(self.query.runId)}
        self.admit_frac = len(admitted) / seen
        return dict(
            ok=len(np.unique(ids)) == len(ids)
            and len(np.unique(admitted)) == len(admitted)
            and floors,
            recall=float(tally[0] / tally[1]),
            kept=float(tally[2] / tally[3]),
            check={
                f"{part}_{k}": round(float(t[i] / t[i + 1]), 4)
                for part, t in zip(("batch", "stream"), parts)
                for k, i in (("recall", 0), ("kept", 2))
            },
            samples=[dt],
            store_bytes=tree_bytes(self.work) - tree_bytes(self.src) - tree_bytes(os.path.join(self.work, "checkpoint")),
            input_bytes=tree_bytes(self.src),
        )

    def layer_counts(self) -> dict:
        f = self.frames
        return {
            "dedup.pairs_in": f["pairs"].count(),
            "dedup.components": f["components"].select("component").distinct().count(),
            "similarity.pairs": f["emb_pairs"].count(),
            "stream.store_rows": self.spark.read.parquet(os.path.join(self.work, "store")).count(),
            "stream.admit_frac": self.admit_frac,
        }


WORKLOADS = {w.name: w for w in (SnowflakeFresh, SnowflakeIncremental, CorpusDedup)}
