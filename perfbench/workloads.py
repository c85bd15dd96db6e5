"""The benchmark workloads.

Each workload owns its seeded inputs, the ops it times, the untimed
output check and the layer probes that only it exercises. An *op* is one
unit whose time is reported: a registry query forced with a ``noop``
write, or one drain of a stream. A *pass* runs every op once; it is the
fixed amount of work behind ``wall_s``.

Everything here calls the package's public functions from outside: the
benchmark adds no hooks to the engine.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import gen

SIZES = {
    # envelope-stream: micro-batches per drain, envelopes per micro-batch
    "envelope-stream": {"full": (4, 800), "tiny": (2, 40)},
    # curation-batch: documents
    "curation-batch": {"full": 150, "tiny": 40},
}
NEAR_DUP_SHARE = 0.15
TOMBSTONE_SHARE = 0.05


@dataclass
class OpRun:
    """One timed op: wall-clock span (epoch seconds) split into the
    driver-side construction of the plan and the action that forces it."""

    op: str
    start: float
    construct_s: float
    action_s: float
    end: float
    error: str | None = None
    cpu_s: float = 0.0
    batch_s: list[float] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)
    job_group: str | None = None


def _normalize(pdf):
    """Order-insensitive, type-normalized rows: the oracle gate's own
    normalization (tools/check_oracle.py)."""
    from check_oracle import normalize

    return normalize(pdf)


def _digest(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


class Workload:
    name = ""
    tables: tuple[str, ...] = ()

    def __init__(self, work_dir: str, seed: int, size: str):
        self.work_dir = work_dir
        self.seed = seed
        self.size = size
        self.data_dir = os.path.join(work_dir, "inputs")
        self.info: dict = {}

    def warm_readers(self, spark) -> None:
        """Plan every input table through the engine's reader and force a
        full scan of it."""
        from kafka_connect_jsonata_spark.sources.readers import load_table

        for t in self.tables:
            load_table(spark, self.data_dir, t).write.format("noop").mode("overwrite").save()


class CurationBatch(Workload):
    """The registry's Python-heavy multi-stage dedup and curation
    operators, each checked against its DuckDB oracle."""

    name = "curation-batch"
    tables = ("documents",)
    # One op per layer, so that a run fits the benchmark's time budget: the
    # fused MinHash dedup (functions.dedup) and the composed curation chain
    # with fuzzy dedup inside it (functions.curation). Both scan documents.
    ops = ("minhash_dedup_docs", "curation_pipeline_v3_docs")

    def generate(self) -> dict:
        n = SIZES[self.name][self.size]
        self.info = gen.curation_tables(self.data_dir, self.seed, n, NEAR_DUP_SHARE)
        self.info["near_dup_share"] = NEAR_DUP_SHARE
        return self.info

    def records_per_pass(self) -> int:
        return len(self.ops) * self.info["documents"]

    def check(self, spark, corrupt: bool) -> tuple[list[str], dict]:
        """Run every op once, collect its rows and compare them with the
        op's DuckDB oracle over the same files. Returns (failed ops,
        layer facts)."""
        import duckdb

        from kafka_connect_jsonata_spark import queries as Q

        con = duckdb.connect()
        for t in self.tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.data_dir, t)}.parquet'"
            )
        failed, facts = [], {}
        for i, op in enumerate(self.ops):
            try:
                df = Q.QUERIES[op](spark, self.data_dir)
                got = _normalize(df.toPandas())
                # the timed passes force the plan with this write
                df.write.format("noop").mode("overwrite").save()
                want = _normalize(con.execute(Q.ORACLES[op]).df())
            except Exception as e:  # noqa: BLE001 - an op that raises is a failed op
                print(f"[perfbench] {op} raised: {e!r}"[:500], flush=True)
                failed.append(op)
                continue
            if corrupt and i == 0:
                want = (want[0][1:], want[1])
            if got != want:
                print(f"[perfbench] {op}: output differs from its oracle "
                      f"({len(got[0])} rows vs {len(want[0])})", flush=True)
                failed.append(op)
            if op == "minhash_dedup_docs":
                facts["dedup.kept_ratio"] = len(got[0]) / self.info["documents"]
        con.close()
        return failed, facts

    def run_op(self, spark, op: str, tag: str) -> OpRun:
        from kafka_connect_jsonata_spark import queries as Q

        group = f"perfbench:{tag}:{op}"
        spark.sparkContext.setJobGroup(group, op)
        t0 = time.time()
        df = Q.QUERIES[op](spark, self.data_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        return OpRun(op, t0, t1 - t0, t2 - t1, t2, batch_s=[t2 - t0], job_group=group)


ENVELOPE_VALUE_TYPE = "struct<first:string,last:string,email:string,k:int,amount:double>"
# The reference README idiom: JSON-field filter + projection, tombstones
# drop. Over the parsed value it compiles to native Columns.
COMPILED_EXPR = "value.k > 50 ? {'key': key, 'k': value.k, 'email': value.email} : null"
# The reference's removeEmail schema-as-data rewrite plus a $merge
# re-route; $sift over a JSON payload runs in the interpreter.
INTERPRETER_EXPR = (
    "$exists(value) ? $merge([$, {"
    "'topic': 'clean-' & topic, "
    "'value': $sift(value, function($v, $k) {$k != 'email'}), "
    "'valueSchema': $merge([valueSchema, {'fields': valueSchema.fields[name != 'email']}])"
    "}]) : null"
)

EXPECTED_COMPILED = """
SELECT key, CAST(json_extract(value, '$.k') AS INTEGER) AS k,
       json_extract_string(value, '$.email') AS email
FROM env WHERE value IS NOT NULL AND CAST(json_extract(value, '$.k') AS INTEGER) > 50
"""
EXPECTED_INTERPRETER = """
SELECT 'clean-' || topic AS topic, kafkaPartition, key, "timestamp",
       json_extract_string(value, '$.first') AS first,
       json_extract_string(value, '$.last') AS last,
       CAST(json_extract(value, '$.k') AS INTEGER) AS k,
       CAST(json_extract(value, '$.amount') AS DOUBLE) AS amount,
       false AS has_email, 'first,last,k,amount' AS schema_fields,
       len(headers) AS n_headers
FROM env WHERE value IS NOT NULL
"""
ACTUAL_INTERPRETER = """
SELECT topic, kafkaPartition, key, "timestamp",
       json_extract_string(value, '$.first') AS first,
       json_extract_string(value, '$.last') AS last,
       CAST(json_extract(value, '$.k') AS INTEGER) AS k,
       CAST(json_extract(value, '$.amount') AS DOUBLE) AS amount,
       json_extract(value, '$.email') IS NOT NULL AS has_email,
       array_to_string(json_extract_string(valueSchema, '$.fields[*].name'), ',') AS schema_fields,
       len(headers) AS n_headers
FROM sink
"""


class EnvelopeStream(Workload):
    """Two ``streaming_transform``-style streams over a backlog of
    ConnectRecord envelopes, one file per micro-batch, drained with
    ``availableNow`` into parquet sinks."""

    name = "envelope-stream"
    tables = ()
    ops = ("compiled", "interpreter")

    def __init__(self, work_dir: str, seed: int, size: str):
        super().__init__(work_dir, seed, size)
        self.src_dir = os.path.join(self.data_dir, "envelopes")
        self.progress: dict[str, list[dict]] = {}
        self._listener = None

    def generate(self) -> dict:
        batches, rows = SIZES[self.name][self.size]
        self.info = gen.envelope_batches(self.src_dir, self.seed, batches, rows, TOMBSTONE_SHARE)
        self.info.update(batches_per_drain=batches, envelopes_per_batch=rows)
        return self.info

    def records_per_pass(self) -> int:
        return len(self.ops) * self.info["envelopes"]

    def warm_readers(self, spark) -> None:
        from kafka_connect_jsonata_spark.envelope import ENVELOPE_SCHEMA
        from kafka_connect_jsonata_spark.sources.readers import scan

        scan(spark, self.src_dir, schema=ENVELOPE_SCHEMA).write.format("noop").mode(
            "overwrite"
        ).save()
        self._add_listener(spark)

    def _add_listener(self, spark) -> None:
        """Every batch's progress, through a listener: a query's
        ``recentProgress`` keeps only its last 100."""
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class Collect(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                sink.setdefault(p["runId"], []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Collect()
        spark.streams.addListener(self._listener)

    def stream_df(self, spark, op: str):
        from pyspark.sql import functions as F

        from kafka_connect_jsonata_spark.envelope import ENVELOPE_SCHEMA
        from kafka_connect_jsonata_spark.sources.readers import file_stream
        from kafka_connect_jsonata_spark.streaming.transform import streaming_transform
        from kafka_connect_jsonata_spark.transform import transform_envelope

        src = file_stream(spark, self.src_dir, schema=ENVELOPE_SCHEMA, maxFilesPerTrigger="1")
        if op == "compiled":
            typed = src.withColumn("value", F.from_json("value", ENVELOPE_VALUE_TYPE))
            return streaming_transform(typed, COMPILED_EXPR)
        return transform_envelope(src, INTERPRETER_EXPR)

    def run_op(self, spark, op: str, tag: str) -> OpRun:
        out = os.path.join(self.work_dir, "sinks", f"{tag}-{op}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        df = self.stream_df(spark, op)
        t1 = time.time()
        q = (
            df.writeStream.format("parquet")
            .option("path", os.path.join(out, "data"))
            .option("checkpointLocation", os.path.join(out, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        t2 = time.time()
        run_id = str(q.runId)
        n = self.info["batches_per_drain"]
        # the listener bus is asynchronous: wait for every batch's event
        deadline = time.time() + 30
        while len(self.progress.get(run_id, [])) < n and time.time() < deadline:
            time.sleep(0.05)
        prog = sorted(self.progress.get(run_id, []), key=lambda p: p["batchId"])
        err = None
        if q.exception() is not None:
            err = str(q.exception())
        elif len(prog) != n:
            err = f"{len(prog)} progress events for {n} micro-batches"
        return OpRun(
            op, t0, t1 - t0, t2 - t1, t2, error=err,
            batch_s=[p["durationMs"]["triggerExecution"] / 1000 for p in prog],
            progress=prog, job_group=run_id,
        )

    def check(self, spark, corrupt: bool) -> tuple[list[str], dict]:
        """Drain both streams and compare each sink with a DuckDB query
        over the generated envelopes: same rows, same digest."""
        import duckdb

        failed = []
        con = duckdb.connect()
        con.execute(f"CREATE VIEW env AS SELECT * FROM '{self.src_dir}/*.parquet'")
        for op, expected_sql, actual_sql in (
            ("compiled", EXPECTED_COMPILED, "SELECT key, k, email FROM sink"),
            ("interpreter", EXPECTED_INTERPRETER, ACTUAL_INTERPRETER),
        ):
            run = self.run_op(spark, op, "check")
            if run.error:
                print(f"[perfbench] {op} stream failed: {run.error}"[:500], flush=True)
                failed.append(op)
                continue
            sink = os.path.join(self.work_dir, "sinks", f"check-{op}", "data")
            con.execute(f"CREATE OR REPLACE VIEW sink AS SELECT * FROM '{sink}/*.parquet'")
            got = _normalize(con.execute(actual_sql).df())
            want = _normalize(con.execute(expected_sql).df())
            if corrupt and op == "compiled":
                want = (want[0][1:], want[1])
            self.info[f"{op}_sink_rows"] = len(got[0])
            self.info[f"{op}_sink_digest"] = _digest(got)
            if got != want or _digest(got) != _digest(want):
                print(f"[perfbench] {op} sink differs from DuckDB "
                      f"({len(got[0])} rows vs {len(want[0])})", flush=True)
                failed.append(op)
        con.close()
        return failed, {}

    def jsonata_probe(self, spark, reps: int = 200) -> dict:
        """Parser, compiler and interpreter costs of the workload's two
        expressions, timed single-threaded on the driver."""
        import pyarrow.parquet as pq

        from kafka_connect_jsonata_spark.jsonata.compiler import compile_expression
        from kafka_connect_jsonata_spark.jsonata.interpreter import Jsonata
        from kafka_connect_jsonata_spark.jsonata.parser import parse

        exprs = {"compiled": COMPILED_EXPR, "interpreter": INTERPRETER_EXPR}
        parse_us, compile_ms, compiled = [], [], 0
        for op, expr in exprs.items():
            samples = []
            for _ in range(reps):
                t = time.perf_counter()
                parse(expr)
                samples.append(time.perf_counter() - t)
            parse_us.append(statistics.median(samples) * 1e6)
            schema = self._compile_schema(spark, op)
            samples = []
            ok = False
            for _ in range(5):
                t = time.perf_counter()
                try:
                    compile_expression(expr, schema)
                    ok = True
                except Exception:  # noqa: BLE001 - NotCompilable or an engine-side compile failure: transform() falls back on both
                    ok = False
                samples.append(time.perf_counter() - t)
            compile_ms.append(statistics.median(samples) * 1e3)
            compiled += ok
        # interpreter cost per row over sampled envelopes, decoded the way
        # the envelope transform hands them to the evaluator
        rows = pq.read_table(os.path.join(self.src_dir, "batch-0000.parquet")).to_pylist()
        docs = []
        for rec in rows:
            env = {k: v for k, v in rec.items() if v is not None}
            for f in ("key", "value", "keySchema", "valueSchema"):
                if isinstance(env.get(f), str):
                    try:
                        env[f] = json.loads(env[f])
                    except ValueError:
                        pass
            docs.append(env)
        ev = Jsonata(parse(INTERPRETER_EXPR))
        for d in docs[:50]:
            ev.evaluate(d)
        t = time.perf_counter()
        for d in docs:
            ev.evaluate(d)
        us_per_row = (time.perf_counter() - t) / len(docs) * 1e6
        return {
            "jsonata.parser.parse_us": statistics.median(parse_us),
            "jsonata.compiler.compile_ms": statistics.median(compile_ms),
            "jsonata.interpreter.us_per_row": us_per_row,
            "transform.compiled_share": compiled / len(exprs),
        }

    def _compile_schema(self, spark, op: str):
        """The schema each stream's expression meets: the parsed value for
        the compiled stream, the raw envelope for the interpreter stream."""
        from pyspark.sql import functions as F

        from kafka_connect_jsonata_spark.envelope import ENVELOPE_SCHEMA
        from kafka_connect_jsonata_spark.sources.readers import scan

        if op != "compiled":
            return ENVELOPE_SCHEMA
        df = scan(spark, self.src_dir, schema=ENVELOPE_SCHEMA)
        return df.withColumn("value", F.from_json("value", ENVELOPE_VALUE_TYPE)).schema


WORKLOADS = {w.name: w for w in (EnvelopeStream, CurationBatch)}
