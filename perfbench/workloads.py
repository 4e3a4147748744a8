"""The benchmark's workloads.

Each workload generates its inputs from the seed, lets the program build
whatever the workload needs before timing, runs one operation at a time in
a closed loop (one client), and checks every operation's output against
ground truth the program never sees. A traced operation calls the same
layers one by one from outside the package and forces each layer's output
separately, so each layer's time can be attributed.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics

import duckdb

import gen

HOUR = 5
EOS_ID = 1_000_000


def dir_stats(root: str) -> tuple[int, int, int]:
    """(data files, bytes, leaf partition dirs) under a written table."""
    files = size = 0
    leaves = set()
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
                leaves.add(dirpath)
    return files, size, len(leaves)


def log_table_sql(root: str) -> str:
    """DuckDB view over a hive-partitioned log table. DuckDB 1.0 reads the
    NULL-partition sentinel as a literal string, so map it back to NULL."""
    null = "'__HIVE_DEFAULT_PARTITION__'"
    return (
        "SELECT * REPLACE ("
        f"nullif(operation, {null}) AS operation, "
        f"CAST(nullif(year, {null}) AS BIGINT) AS year, "
        f"CAST(nullif(month, {null}) AS INTEGER) AS month, "
        f"CAST(nullif(day, {null}) AS INTEGER) AS day, "
        f"CAST(nullif(hour, {null}) AS INTEGER) AS hour) "
        f"FROM read_parquet('{root}/**/*.parquet', hive_partitioning = true, "
        "hive_types_autocast = false)"
    )


def table_truth(con, root: str) -> dict:
    """Row count, per-partition rows and column sums of a written log table,
    read by DuckDB straight from the Parquet files."""
    view = log_table_sql(root)
    rows = con.execute(
        "SELECT bucket_name, operation, year, month, day, hour, count(*) "
        f"FROM ({view}) GROUP BY ALL"
    ).fetchall()
    n, bs, ip, bad = con.execute(
        "SELECT count(*), coalesce(sum(bytessent), 0), "
        "coalesce(sum(remoteip_int), 0), count(*) FILTER (WHERE ts IS NULL) "
        f"FROM ({view})"
    ).fetchone()
    return {
        "rows": n,
        "partitions": {tuple(r[:6]): r[6] for r in rows},
        "bytessent_sum": int(bs),
        "remoteip_int_sum": int(ip),
        "malformed": bad,
    }


def truth_mismatches(got: dict, want: gen.LogTruth) -> list[str]:
    bad = []
    if got["rows"] != want.lines:
        bad.append(f"rows {got['rows']} != {want.lines}")
    if got["malformed"] != want.malformed:
        bad.append(f"malformed rows {got['malformed']} != {want.malformed}")
    if got["partitions"] != dict(want.partitions):
        bad.append(f"partition set differs ({len(got['partitions'])} vs "
                   f"{len(want.partitions)} partitions)")
    for k in ("bytessent_sum", "remoteip_int_sum"):
        if got[k] != getattr(want, k):
            bad.append(f"{k} {got[k]} != {getattr(want, k)}")
    return bad


class Workload:
    """One workload. ``items`` names what ``items_per_s`` counts;
    ``op_seconds`` is the nominal time of one operation on 4 cores, which
    turns a run's ``--seconds`` into its number of operations."""

    name = ""
    items = ""
    op_seconds = 1.0
    build_ops = 0

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{work}/duckdb'")
        self.raw_bytes = 0
        self.out_bytes = 0

    def generate(self) -> None:
        """Write the inputs; the program sees only these files."""

    def build(self) -> list[str]:
        """Program-side work done once before set-up is timed, made of
        ``build_ops`` operations; returns the mismatches found in what it
        built."""
        return []

    def prepare(self) -> None:
        """Program-side work a user pays before the first operation; timed
        as part of each set-up."""

    def warmup(self) -> None:
        """Untimed operations that load and compile the code paths the timed
        operations take."""
        self.op(-1, False)
        self.check(-1)

    def op(self, i: int, traced: bool) -> int:
        """Run operation ``i``; return the number of items it processed."""
        raise NotImplementedError

    def check(self, i: int) -> list[str]:
        """Mismatches between operation ``i``'s output and ground truth."""
        return []

    def probe(self) -> list[str]:
        """Traced run only: call layers the operation reaches only from
        inside the program, each on its own, so each can be timed; returns
        the mismatches found in their output."""
        return []

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer values this workload can read outside spans."""
        return {}

    def close(self) -> None:
        self.con.close()


class EtlHour(Workload):
    """One hour of raw log files exported per operation into a fresh table."""

    name = "etl_hour"
    items = "lines"
    op_seconds = 1.2
    lines, files = 20_000, 24

    def generate(self):
        self.src = f"{self.work}/raw"
        self.truth = gen.write_log_hour(self.src, self.seed, HOUR,
                                        self.lines, self.files)
        self.raw_bytes = self.truth.raw_bytes
        gen.write_log_hour(self.src, self.seed, HOUR - 1, self.lines,
                           self.files)

    def warmup(self):
        """Three exports of the hour before: after one, the timed exports
        still got faster by a quarter over a run, and after two, under
        host contention, still by a fifth."""
        from s3_access_logs_spark.operators.etl import export_hour

        for _ in range(3):
            export_hour(self.spark, self.src, self._dst(-1),
                        hour=gen.hour_prefix(HOUR - 1))
            shutil.rmtree(self._dst(-1), ignore_errors=True)

    def _dst(self, i: int) -> str:
        return f"{self.work}/out/{i}"

    def op(self, i, traced):
        from s3_access_logs_spark.operators.etl import export_hour

        dst = self._dst(i)
        if not traced:
            return export_hour(self.spark, self.src, dst,
                               hour=gen.hour_prefix(HOUR))
        return traced_export_hour(self.spark, self.tracer, self.src, dst,
                                  gen.hour_prefix(HOUR))

    def check(self, i):
        dst = self._dst(i)
        bad = truth_mismatches(table_truth(self.con, dst), self.truth)
        self.out_bytes = dir_stats(dst)[1]
        if i != 0:
            shutil.rmtree(dst, ignore_errors=True)
        return bad

    def probe(self):
        """The same hour drained by an available-now stream in small
        micro-batches; its table must equal the batch export of op 0."""
        from s3_access_logs_spark.streaming.pipeline import (
            parse_log_stream, read_log_stream, write_partitioned_stream)

        src, dst = f"{self.work}/stream-src", f"{self.work}/stream"
        os.makedirs(src)
        for n in os.listdir(self.src):
            if n.startswith(gen.hour_prefix(HOUR)):
                os.link(f"{self.src}/{n}", f"{src}/{n}")
        with self.tracer.span("streaming.drain"):
            lines = read_log_stream(self.spark, src, max_files_per_trigger=4)
            q = write_partitioned_stream(parse_log_stream(lines), dst,
                                         f"{self.work}/checkpoint",
                                         available_now=True)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.stream_files = dir_stats(dst)[0]
        bad = truth_mismatches(table_truth(self.con, dst), self.truth)
        sums = [self.con.execute(
            "SELECT count(*), sum(hash(requestid, bytessent, ts, key, "
            f"bucket_name, operation, hour)) FROM ({log_table_sql(t)})"
        ).fetchone() for t in (dst, self._dst(0))]
        if sums[0] != sums[1]:
            bad.append(f"stream table {sums[0]} != batch table {sums[1]}")
        return bad

    def layer_metrics(self):
        progress = getattr(self, "progress", [])
        if not progress:
            return {}

        def p50(key):
            return statistics.median(p["durationMs"].get(key, 0) / 1000
                                     for p in progress)

        return {
            "streaming.batches": len(progress),
            "streaming.trigger_p50_s": p50("triggerExecution"),
            "streaming.add_batch_p50_s": p50("addBatch"),
            "streaming.wal_commit_p50_s": p50("walCommit"),
            "streaming.files_written": self.stream_files,
        }


def traced_export_hour(spark, tracer, src: str, dst: str, hour: str) -> int:
    """export_hour's scan -> parse -> write with each layer forced on its
    own: the raw lines and the parsed rows are each cached and counted."""
    from s3_access_logs_spark.operators.etl import write_logs
    from s3_access_logs_spark.operators.parse import parse_logs
    from s3_access_logs_spark.sources.logs import read_logs

    with tracer.span("sources.read_logs") as c:
        raw = read_logs(spark, src, hour=hour).persist()
        c["lines"] = raw.count()
        names = [n for n in os.listdir(src) if n.startswith(hour)]
        c["files_in"] = len(names)
        c["bytes_in"] = sum(os.path.getsize(f"{src}/{n}") for n in names)
    with tracer.span("parse.scan_parse") as c:
        parsed = parse_logs(raw).persist()
        c["lines"] = n = parsed.count()
        c["malformed_rows"] = parsed.filter("ts IS NULL").count()
    with tracer.span("etl.write_logs") as c:
        write_logs(parsed, dst)
        c["files_written"], c["bytes_written"], c["partitions_written"] = (
            dir_stats(dst))
    parsed.unpersist()
    raw.unpersist()
    return n


# ---------------------------------------------------------------------------


QUERY_KINDS = ("point", "rollup", "topk_ip", "cidr", "errors")


class LogQueries(Workload):
    """Athena-style SQL over a multi-hour table built by hourly exports."""

    name = "log_queries"
    items = "queries"
    op_seconds = 0.15
    hours, lines, files = 3, 10_000, 12
    build_ops = 1  # one export_hour over all hours

    def generate(self):
        self.src = f"{self.work}/raw"
        self.table = f"{self.work}/table"
        self.truth = gen.write_log_hours(self.src, self.seed,
                                         list(range(self.hours)),
                                         self.lines, self.files)
        self.raw_bytes = self.truth.raw_bytes
        rng = random.Random(self.seed)
        pools = gen.LogPools(random.Random(self.seed))
        # Kinds in a fixed rotation, parameters seeded: every run has the
        # same mix, so the median compares across runs.
        self.queries = [(k, self._sql(k, rng, pools))
                        for _ in range(80) for k in QUERY_KINDS]
        self.expected: dict[str, list] = {}
        self.results: dict[int, list] = {}

    @staticmethod
    def _sql(kind: str, rng: random.Random, pools) -> str:
        b = rng.choices(gen.BUCKETS, gen.zipf_weights(len(gen.BUCKETS)))[0]
        h = rng.randrange(LogQueries.hours)
        y, m, d = gen.DAY
        day = f"year = {y} AND month = {m} AND day = {d}"
        if kind == "point":
            r = rng.choices(pools.requesters, pools.requester_w)[0]
            return ("SELECT requestid, operation, key, httpstatus, bytessent "
                    f"FROM logs WHERE bucket_name = '{b}' AND {day} "
                    f"AND hour = {h} AND requester = '{r}' "
                    "ORDER BY requestid")
        if kind == "rollup":
            return ("SELECT operation, hour, count(*) AS n, "
                    "sum(bytessent) AS bytes FROM logs "
                    f"WHERE bucket_name = '{b}' GROUP BY operation, hour "
                    "ORDER BY operation NULLS FIRST, hour NULLS FIRST")
        if kind == "topk_ip":
            return ("SELECT remoteip, count(*) AS n FROM logs "
                    f"WHERE {day} AND hour BETWEEN {h} AND {h + 1} "
                    "GROUP BY remoteip ORDER BY n DESC, remoteip LIMIT 10")
        if kind == "cidr":
            net = rng.choice(gen.NETWORKS)
            lo = int.from_bytes(bytes(int(x) for x in f"{net}.0.0".split(".")),
                                "big")
            return ("SELECT bucket_name, count(*) AS n, "
                    "sum(bytessent) AS bytes FROM logs "
                    f"WHERE remoteip_int BETWEEN {lo} AND {lo + 65535} "
                    "GROUP BY bucket_name ORDER BY bucket_name")
        return ("SELECT bucket_name, count(*) AS total, "
                "count_if(httpstatus LIKE '4%' OR httpstatus LIKE '5%') "
                "AS errors FROM logs GROUP BY bucket_name ORDER BY bucket_name")

    def warmup(self):
        """Six rounds of every query kind, with parameters no timed query
        uses: with one round, rounds of timed queries still got faster by
        a third over a run, and with three, under host contention, still
        by a quarter."""
        for _kind, sql in self.queries[-6 * len(QUERY_KINDS):]:
            self.spark.sql(sql).collect()

    def build(self):
        """The hours backfilled by one export. Hour-by-hour exports lose
        rows (see ``probe``), so the table is built the way that keeps
        every row and the check below holds it to the generator's truth."""
        from s3_access_logs_spark.operators.etl import export_hour

        export_hour(self.spark, self.src, self.table)
        # A table, not a view: DuckDB 1.0 fails on filters over the
        # NULL-mapped partition columns when they are pushed into the scan.
        self.con.execute(f"CREATE TABLE logs AS {log_table_sql(self.table)}")
        self.out_bytes = dir_stats(self.table)[1]
        return truth_mismatches(table_truth(self.con, self.table), self.truth)

    def prepare(self):
        from s3_access_logs_spark.operators.etl import read_parsed

        with self.tracer.span("etl.read_parsed") as c:
            read_parsed(self.spark, self.table).createOrReplaceTempView("logs")
            c["table_files"], _, c["table_partitions"] = dir_stats(self.table)

    def _query(self, i: int) -> tuple[str, str]:
        # A traced run alternates untraced and traced operations; both of a
        # pair run the same query, so their times compare.
        return self.queries[(i // 2 if self.tracer.enabled else i)
                            % len(self.queries)]

    def op(self, i, traced):
        kind, sql = self._query(i)
        if not traced:
            rows = self.spark.sql(sql).collect()
        else:
            with self.tracer.span("sql.query", kind=kind) as c:
                with self.tracer.span("sql.analyze"):
                    df = self.spark.sql(sql)
                with self.tracer.span("sql.exec"):
                    rows = df.collect()
                c["rows_returned"] = len(rows)
                c.update(scan_metrics(df))
        self.results[i] = [tuple(r) for r in rows]
        return 1

    def probe(self):
        """The same hours exported one ``export_hour`` call per hour into a
        second table, the way an hourly job would. Malformed lines carry a
        bucket but no operation or time, so every hour writes them to the
        same NULL partition and each export's dynamic overwrite drops the
        earlier hours' ones; ``etl.hourly_rows_lost`` counts the rows
        missing from that table. Then the curation export runs once
        (``CurateExport``)."""
        from s3_access_logs_spark.operators.etl import export_hour

        dst = f"{self.work}/hourly"
        with self.tracer.span("etl.export_hourly") as c:
            for h in range(self.hours):
                export_hour(self.spark, self.src, dst,
                            hour=gen.hour_prefix(h))
            c["hourly_rows_lost"] = self.truth.lines - table_truth(
                self.con, dst)["rows"]
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(f"{self.work}/curate/duckdb")
        return CurateExport(self.seed, f"{self.work}/curate",
                            self.tracer).run(self.spark)

    def check(self, i):
        _kind, sql = self._query(i)
        if sql not in self.expected:
            self.expected[sql] = [tuple(r) for r in self.con.execute(sql).fetchall()]
        got = self.results.pop(i)
        if got != self.expected[sql]:
            return [f"query {i} differs from DuckDB: {got[:3]} vs "
                    f"{self.expected[sql][:3]}"]
        return []


def scan_metrics(df) -> dict[str, int]:
    """Files and bytes the executed plan's Parquet scans read."""
    out = {"files_matched": 0, "bytes_matched": 0}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            m = node.metrics()
            out["files_matched"] += int(m.apply("numFiles").value())
            out["bytes_matched"] += int(m.apply("filesSize").value())
        kids = node.children()
        stack.extend(kids.apply(j) for j in range(kids.length()))
    return out


# ---------------------------------------------------------------------------

CURATE_STAGES = ("exact_dup", "quality", "language", "near_dup", "semantic")


class CurateExport(Workload):
    """Curate a corpus with every gate and export it as BPE token windows.

    Not a workload of its own: a third Spark workload's runs did not fit
    the time a comparison may take on a busy 4-core machine. The traced
    run of ``log_queries`` runs it once after its loop, so every curation
    layer is still measured and its output still checked."""

    docs = 1_000

    def run(self, spark) -> list[str]:
        """Generate the corpus, export it once, call each layer on its own;
        return the mismatches found."""
        self.spark = spark
        try:
            self.generate()
            self.prepare()
            self.op(0, True)
            return self.check(0) + self.probe()
        finally:
            self.close()

    def generate(self):
        self.src = f"{self.work}/corpus"
        self.truth = gen.write_corpus(self.src, self.seed, self.docs)
        self.reports: dict[int, dict] = {}

    def prepare(self):
        from s3_access_logs_spark.operators.similarity import label_centroids
        from s3_access_logs_spark.sources.tables import load_table

        with self.tracer.span("sources.load_table"):
            self.docs_df = load_table(self.spark, self.src, "documents")
            self.emb_df = load_table(self.spark, self.src, "embeddings")
            # The corpus ships with cluster labels, so the semantic stage's
            # quantizer is their centroids rather than a k-means fit per run.
            self.centroids = label_centroids(self.emb_df, "label", "embedding")

    def gates(self) -> dict:
        return {"min_quality": 0.5, "langs": ("en",), "near_dup": True,
                "embeddings": self.emb_df, "semantic_threshold": 0.95,
                "semantic_centroids": self.centroids}

    def _dst(self, i):
        return f"{self.work}/shards/{i}"

    def op(self, i, traced):
        from s3_access_logs_spark.operators.export import export_training_set

        with self.tracer.span("export.export_training_set") as c:
            _w, report = export_training_set(
                self.docs_df, self._dst(i), n_shards=8, window_ids=256,
                eos_id=EOS_ID, curate=self.gates())
            rep = {r["stage"]: int(r["dropped"]) for r in report.collect()}
            c.update({k: v for k, v in rep.items()
                      if k in ("tokens_kept", "windows_emitted")})
            c["bytes_written"] = dir_stats(self._dst(i))[1]
        self.reports[i] = rep
        return self.docs

    def probe(self):
        """Each layer of the export called and forced on its own."""
        from pyspark.sql import functions as F

        from s3_access_logs_spark.functions.bpe import bpe_token_ids
        from s3_access_logs_spark.functions.text import lang_id, quality_score
        from s3_access_logs_spark.operators.curate import curate_corpus
        from s3_access_logs_spark.operators.dedup import (
            dedup_exact, jaccard_pairs, minhash_candidates,
            minhash_signatures)
        from s3_access_logs_spark.operators.layout import (
            pack_id_windows, training_shards)
        from s3_access_logs_spark.operators.similarity import semantic_dedup

        docs, t = self.docs_df, self.tracer

        def force(df):
            df.write.format("noop").mode("overwrite").save()

        with t.span("functions.quality"):
            force(docs.select(quality_score("text"), lang_id("text")))
        with t.span("functions.bpe_encode") as c:
            ids = docs.select(F.col("doc_id").alias("id"),
                              bpe_token_ids("text").alias("ids")).persist()
            c["docs"] = ids.count()
        with t.span("dedup.exact"):
            force(dedup_exact(docs))
        with t.span("dedup.minhash"):
            force(minhash_signatures(docs))
        with t.span("dedup.near_dup") as c:
            cand = minhash_candidates(docs).persist()
            c["candidate_pairs"] = cand.count()
            c["confirmed_pairs"] = cand.join(
                jaccard_pairs(docs, threshold=0.8), ["id_a", "id_b"]).count()
            cand.unpersist()
        with t.span("similarity.semantic_dedup"):
            force(semantic_dedup(self.emb_df, threshold=0.95,
                                 centroids=self.centroids))
        with t.span("curate.curate_corpus") as c:
            surv, report = curate_corpus(docs, **self.gates())
            force(surv)
            rep = {r["stage"]: int(r["dropped"]) for r in report.collect()}
            c.update({"dropped." + k: v for k, v in rep.items()})
        with t.span("layout.pack_id_windows"):
            force(pack_id_windows(training_shards(ids, 8, id_col="id"), 256,
                                  ["shard"], [F.col("shard_order"),
                                              F.col("id")]))
        ids.unpersist()
        if any(rep.get(s) != self.export_report.get(s) for s in CURATE_STAGES):
            return [f"curate_corpus report {rep} differs from the export's "
                    f"{self.export_report}"]
        return []

    def check(self, i):
        bad = []
        rep = self.export_report = self.reports.pop(i)
        t = self.truth
        for stages, want, what, slack in (
                (("exact_dup",), len(t.exact_dup_ids), "exact copies", 0),
                (("quality", "language"),
                 len(t.low_quality_ids) + len(t.other_lang_ids),
                 "low-quality and non-English documents", 0),
                # MinHash LSH keeps no verification step: a band collision
                # between unrelated documents drops one, so allow 1%.
                (("near_dup", "semantic"), len(t.near_dup_ids), "near copies",
                 self.docs // 100)):
            got = sum(rep.get(s, 0) for s in stages)
            if not want <= got <= want + slack:
                bad.append(f"{'+'.join(stages)} dropped {got}, {want} {what} "
                           "injected")
        dst = self._dst(i)
        total, eos = self.con.execute(
            "SELECT coalesce(sum(len(ids)), 0), "
            f"coalesce(sum(len(list_filter(ids, x -> x = {EOS_ID}))), 0) "
            f"FROM read_parquet('{dst}/**/*.parquet')").fetchone()
        if rep.get("tokens_kept") != total - eos:
            bad.append(f"tokens_kept {rep.get('tokens_kept')} != ids written "
                       f"{total} - EOS {eos}")
        kept = self.docs - sum(rep.get(s, 0) for s in CURATE_STAGES)
        if eos != kept:
            bad.append(f"{eos} documents written, report keeps {kept}")
        shutil.rmtree(dst, ignore_errors=True)
        return bad


# ---------------------------------------------------------------------------


WORKLOADS = {w.name: w for w in (EtlHour, LogQueries)}
