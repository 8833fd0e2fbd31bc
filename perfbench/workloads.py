"""The benchmark workloads.

Every workload is a single-client closed loop: the next operation
starts only when the previous one has returned.  A workload has a
``setup`` (inputs from the seed, loading, warm-up), a fixed ``cycle``
of operations the loop repeats, and a ``verify`` step run after the
timed window.  Operations are ``(kind, name, fn, check)``: ``fn`` is
timed, ``check`` runs on its result outside the timed section and
returns a reason when the result is wrong.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import checks

# registry modules, by the layer name the benchmark reports them under
REGISTRY_MODULES = {
    "data_management_python_spark.plans.relational": "plans.relational",
    "data_management_python_spark.plans.tpch": "plans.tpch",
    "data_management_python_spark.plans.analytics": "plans.analytics",
    "data_management_python_spark.plans.graph": "plans.graph",
    "data_management_python_spark.plans.cosmx_queries": "plans.cosmx_queries",
    "data_management_python_spark.llmdata.queries": "llmdata.queries",
}
# The report sample: one query per module, two from plans.relational,
# the largest; where a module offers several, queries of different
# cost.  It is fixed so that every seed measures the same cost
# profile; the seed draws the corpus and the order.  Seven queries, an
# odd number: the median read and the tail read of a window then fall
# inside one query's group of latencies, not on the gap between two
# queries' groups.
REPORT_SAMPLE = [
    "a_grouping_sets", "e_cohort_retention",
    "d_bloom_probe",
    "a_rollup_revenue",
    "q12_priority_shipping",
    "g_triangle_count",
    "cosmx_fov_seeding",
]
STAR_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def logical_bytes(row: tuple) -> int:
    """User-visible size of a row: UTF-8 length of strings, 8 bytes for
    any other non-null value."""
    return sum(
        len(v.encode()) if isinstance(v, str) else (0 if v is None else 8)
        for v in row
    )


def tree_stats(root: str) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Workload:
    name = ""
    store_root: str | None = None
    MIN_CYCLES = 1  # cycles a window holds at least

    def __init__(self, spark, rec, work: str, seed: int):
        self.spark = spark
        self.rec = rec
        self.work = work
        self.seed = seed
        self.rng = np.random.RandomState(seed)
        self.user_bytes = 0
        self.phases: dict[str, float] = {}
        self._t = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Close a set-up phase (reported on stderr)."""
        now = time.perf_counter()
        self.phases[phase] = now - self._t
        self._t = now

    def setup(self) -> None:
        raise NotImplementedError

    def cycle(self):
        """Operations of one loop cycle; the loop only stops at a cycle
        boundary, so every run measures the same operation mix."""
        raise NotImplementedError

    def verify(self) -> list[tuple[int | None, str]]:
        """End-of-run correctness: (op id or None, reason) per failure."""
        return []

    def layer_metrics(self) -> dict[str, float]:
        return {}


# ----------------------------------------------------------------------
# registry_reports
# ----------------------------------------------------------------------


class RegistryReports(Workload):
    """Reporting queries from the registry over a seeded star corpus."""

    name = "registry_reports"
    SCALE = 0.01  # 60k lineitem rows
    # the first pass compiles; the JIT then takes about a third off a
    # pass over the next five or six
    WARM_PASSES = 6
    # a cycle is one pass over the sample; a window is at least this
    # many cycles.  With seven passes of seven queries (49 reads) the
    # median read is the 4th of 7 latencies of the 4th-cheapest query
    # and the tail (ten reads beyond it) the 4th of 7 of the 6th
    MIN_CYCLES = 7

    def setup(self) -> None:
        from data_management_python_spark.operators import session_cache  # noqa: PLC0415
        from data_management_python_spark.plans import collect_queries  # noqa: PLC0415
        from perfbench import corpus  # noqa: PLC0415

        self.corpus_dir = os.path.join(self.work, "corpus")
        corpus.generate(self.corpus_dir, self.seed, self.SCALE)
        self.mark("inputs")
        reg = collect_queries()
        order = self.rng.permutation(len(REPORT_SAMPLE))
        self.sample = [
            (REGISTRY_MODULES[reg[n].fn.__module__], reg[n])
            for n in (REPORT_SAMPLE[i] for i in order)
        ]
        self.digests: dict[str, list[tuple[int, str]]] = {}
        self.dtypes: dict[str, list] = {}
        # warm-up: codegen, file listing, session-cache family builds
        # and the JIT
        for _ in range(self.WARM_PASSES):
            for _m, q in self.sample:
                q.fn(self.spark, self.corpus_dir).collect()
        self.cache0 = session_cache.stats()
        self.mark("warm_up")

    def _op(self, mod: str, q):
        rec = self.rec

        def fn():
            with rec.span(f"{mod}.fn"):
                df = q.fn(self.spark, self.corpus_dir)
            with rec.span(f"{mod}.collect"):
                rows = df.collect()
            return df, rows

        def check(result):
            df, rows = result
            self.dtypes[q.name] = df.dtypes
            self.digests.setdefault(q.name, []).append(
                (len(rec.ops) - 1, checks.canonical_digest(df.columns, rows))
            )
            return None

        return ("read", q.name, fn, check)

    def cycle(self):
        return [self._op(m, q) for m, q in self.sample]

    def verify(self):
        import duckdb  # noqa: PLC0415

        con = duckdb.connect()
        for t in STAR_TABLES:
            path = os.path.join(self.corpus_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        fails = []
        for _m, q in self.sample:
            runs = self.digests.get(q.name, [])
            if not runs:
                continue
            try:
                rel = con.sql(q.oracle)
                cols, types, rows = list(rel.columns), list(rel.types), rel.fetchall()
            except Exception as e:  # noqa: BLE001
                fails += [(op, f"{q.name}: oracle error {e}") for op, _ in runs]
                continue
            want = checks.canonical_digest(cols, rows)
            type_err = checks.check_query_types(self.dtypes[q.name], cols, types)
            for op, got in runs:
                err = type_err or checks.check_query_result(got, want)
                if err:
                    fails.append((op, f"{q.name}: {err}"))
        con.close()
        return fails

    def layer_metrics(self):
        from data_management_python_spark.operators import session_cache  # noqa: PLC0415

        hits0, builds0 = self.cache0
        hits1, builds1 = session_cache.stats()
        new_builds = len(set(builds1) - set(builds0))
        hits = hits1 - hits0
        return {
            "operators.session_cache.hits": hits,
            "operators.session_cache.hit_ratio": (
                hits / (hits + new_builds) if hits + new_builds else 0.0
            ),
            "operators.session_cache.build_s": sum(builds1.values()),
        }


# ----------------------------------------------------------------------
# run_ingest
# ----------------------------------------------------------------------

ENA_LAYOUT = {  # bucketed on the natural key point reads use
    "project": ["project_igf_id"],
    "sample": ["sample_igf_id"],
    "experiment": ["experiment_igf_id"],
    "run": ["run_igf_id"],
    "seqrun": ["seqrun_igf_id"],
    "file": ["file_path"],
}
N_BUCKETS = 8

PROJECT_COLS = "project_id long, project_igf_id string, status string, deliverable string"
SAMPLE_COLS = (
    "sample_id long, sample_igf_id string, taxon_id long, scientific_name string, "
    "status string, project_id long"
)
SEQRUN_COLS = (
    "seqrun_id long, seqrun_igf_id string, reject_run string, flowcell_id string"
)
EXPERIMENT_COLS = (
    "experiment_id long, experiment_igf_id string, project_id long, sample_id long, "
    "library_name string, library_source string, library_strategy string, "
    "experiment_type string, library_layout string, status string, platform_name string"
)
RUN_COLS = (
    "run_id long, run_igf_id string, experiment_id long, seqrun_id long, "
    "status string, lane_number string"
)
FILE_COLS = "file_id long, file_path string, location string, status string, size string"


def names(ddl: str) -> list[str]:
    """Column names of a DDL schema string."""
    return [c.split()[0] for c in ddl.split(", ")]


class RunIngest(Workload):
    """Discover finished run folders and register each one: parse,
    validate, demux registration, store transaction, barcode QC; keyed
    status reads of what was registered in between."""

    name = "run_ingest"
    # a window that registers this many cycles ends early: the
    # metadata of every cycle's samples is loaded during set-up
    MAX_CYCLES = 12
    # status reads after each registration: four per run keep a
    # cycle's reads (these plus the poll) above the eleven a tail needs
    STATUS_READS = [
        ("run", "run_igf_id", "run_keys"),
        ("sample", "sample_igf_id", "registered_samples"),
        ("seqrun", "seqrun_igf_id", "registered"),
        ("run", "run_igf_id", "run_keys"),
    ]

    def setup(self) -> None:
        from data_management_python_spark.store import TableStore  # noqa: PLC0415
        from perfbench import rundirs  # noqa: PLC0415

        self.store_root = os.path.join(self.work, "store")
        self.store = TableStore(self.spark, self.store_root, attr_n_buckets=N_BUCKETS)
        for table, keys in ENA_LAYOUT.items():
            self.store.enable_partitioning(table, keys, N_BUCKETS)
        self.acked: dict[str, set[tuple]] = {}
        self.fs_written = [0, 0]  # files, bytes (traced loop only)
        self.traced_user_bytes = 0
        self.mark("open_store")
        self.runs_root = os.path.join(self.work, "runs")
        os.makedirs(self.runs_root)
        # the lab registers projects and samples before their runs
        # arrive: the metadata of every cycle is loaded up front
        planned = [
            spec for c in range(self.MAX_CYCLES)
            for spec in rundirs.generate(self.runs_root, self.seed, c, write=False)
        ]
        projects = sorted({p for s in planned for p, _ in s.metadata})
        pid = {p: i for i, p in enumerate(projects)}
        samples = sorted({(sid, p) for s in planned for p, sid in s.metadata})
        self.sample_ids = {sid: i for i, (sid, _p) in enumerate(samples)}
        prow = [(i, p, "ACTIVE", "FASTQ") for p, i in pid.items()]
        srow = [
            (i, sid, 9606, "Homo sapiens", "ACTIVE", pid[p])
            for i, (sid, p) in enumerate(samples)
        ]
        self.store_records("project", prow, PROJECT_COLS)
        self.store_records("sample", srow, SAMPLE_COLS)
        self.mark("load")
        self.ack("project", prow)
        self.ack("sample", srow)
        # warm-up of the keyed reads only: the status reads are served
        # warm, and without it the first reads of the window form a
        # slower cluster that the median of 13 reads straddles
        self.fetch_by("sample", sample_igf_id=srow[0][1])
        self.exists("sample", sample_igf_id=srow[0][1])
        self.mark("warm_up")
        self.specs: dict[str, object] = {}
        self.n_cycles = 0
        self.ids = {"seqrun": 0, "experiment": 0, "run": 0, "file": 0}
        self.registered: list[str] = []
        self.flagged = 0
        self.pending: list[str] = []
        self.run_keys: list[str] = []
        self.registered_samples: list[str] = []
        # no warm-up: registration is a scheduled job that starts its
        # own session, so the first registration pays the cold start
        self.batch = 1

    # -- store verbs, each inside its own span --------------------------

    def ack(self, table: str, rows) -> None:
        """Record rows the store acknowledged (for read-back and the
        logical-bytes denominator)."""
        n = sum(logical_bytes(r) for r in rows)
        self.user_bytes += n
        if self.rec.tracing:
            self.traced_user_bytes += n
        self.acked.setdefault(table, set()).update(tuple(r) for r in rows)

    def store_records(self, table, rows, schema):
        with self.rec.span("store.store_records"):
            self.store.store_records(table, self.spark.createDataFrame(rows, schema))

    def store_with_attributes(self, table, data, key_column):
        with self.rec.span("store.store_with_attributes"):
            self.store.store_with_attributes(table, data, key_column=key_column)

    def fetch_by(self, table, **filters):
        with self.rec.span("store.fetch_by"):
            return self.store.fetch_by(table, **filters).collect()

    def exists(self, table, **filters):
        with self.rec.span("store.exists"):
            return self.store.exists(table, **filters)

    # -- operations ---------------------------------------------------

    def _poll(self):
        from data_management_python_spark.streaming.discovery import discover_new_runs  # noqa: PLC0415

        def fn():
            with self.rec.span("streaming.discover_new_runs"):
                registry = self.store.table("seqrun")
                return sorted(r.seqrun_igf_id for r in discover_new_runs(
                    self.spark, self.runs_root, registry).collect())

        def check(found):
            want = sorted(set(self.specs) - set(self.registered))
            self.pending = list(found)
            if found != want:
                return f"discovery found {len(found)} new runs, expected {len(want)}"
            return None

        return ("read", "discover_new_runs", fn, check)

    def _register(self, spec, stream_batch: int):
        from data_management_python_spark.plans import demux_pipeline  # noqa: PLC0415
        from data_management_python_spark.qc.barcode_qc import barcode_qc  # noqa: PLC0415
        from data_management_python_spark.sources import fastq  # noqa: PLC0415
        from data_management_python_spark.sources.runinfo_xml import read_runinfo  # noqa: PLC0415
        from data_management_python_spark.sources.samplesheet import (  # noqa: PLC0415
            read_samplesheet,
            validate_samplesheet_rows,
        )
        from data_management_python_spark.sources.stats_json import read_demux_stats  # noqa: PLC0415
        from data_management_python_spark.streaming.ingest import ingest_batch  # noqa: PLC0415
        from data_management_python_spark.validation import metadata as vmeta  # noqa: PLC0415
        from pyspark.sql import functions as F  # noqa: PLC0415

        rec, spark = self.rec, self.spark
        path = spec.path
        out = {}

        def body():
            if spec.seqrun_id not in self.pending:
                raise RuntimeError(f"the poll did not report {spec.seqrun_id}")
            with rec.span("sources.read_samplesheet"):
                sheet = read_samplesheet(spark, os.path.join(path, "SampleSheet.csv"))
            with rec.span("sources.read_runinfo"):
                run_df, _reads = read_runinfo(spark, os.path.join(path, "RunInfo.xml"))
                run_row = run_df.first()
            with rec.span("validation.metadata"):
                meta = self.store.table("sample").join(
                    self.store.table("project"), "project_id"
                ).select("project_igf_id", "sample_igf_id")
                viol = (
                    validate_samplesheet_rows(sheet).select(F.col("validation_error").alias("v"))
                    .unionByName(vmeta.duplicate_barcodes(sheet).select(F.lit("dup_barcode").alias("v")))
                    .unionByName(vmeta.unregistered_in_metadata(sheet, meta).select(F.lit("unregistered").alias("v")))
                ).collect()
            seqrun_id = self.ids["seqrun"]
            self.ids["seqrun"] += 1
            if viol:
                sr = [(seqrun_id, spec.seqrun_id, "Y", run_row.flowcell)]
                self.store_records("seqrun", sr, SEQRUN_COLS)
                out.update(seqrun=sr, violations=len(viol), rows={})
                return out
            with rec.span("sources.read_demux_stats"):
                stats_rows = read_demux_stats(spark, os.path.join(path, "Stats.json")).collect()
            stats = spark.createDataFrame(
                stats_rows,
                "runid string, lane int, sample string, index string, reads long, "
                "tag string, total_read long",
            )
            with rec.span("sources.list_fastq_files"):
                files_rows = fastq.list_fastq_files(spark, os.path.join(path, "fastq")).collect()
            files = spark.createDataFrame(files_rows, "file_path string, size long")
            r1 = [r.file_path for r in files_rows if "_R1_" in r.file_path]
            with rec.span("sources.count_fastq_reads_many"):
                counts_rows = fastq.count_fastq_reads_many(spark, r1).collect()
            counts = spark.createDataFrame(counts_rows, "file_path string, n_reads long")
            with rec.span("plans.demux_pipeline.build_work_units"):
                units = demux_pipeline.build_work_units(sheet, platform_series=spec.platform)
            with rec.span("plans.demux_pipeline.register_fastq_outputs"):
                reg = demux_pipeline.register_fastq_outputs(
                    units, files, counts, spec.platform, run_row.flowcell,
                )
                origin = units.select(
                    "Sample_ID",
                    F.coalesce("Original_Sample_ID", "Sample_ID").alias("sample_igf_id"),
                ).dropDuplicates(["Sample_ID"])
                reg_rows = reg.join(origin, "Sample_ID").collect()
            rows = self._registration_rows(spec, seqrun_id, run_row.flowcell, reg_rows, files_rows)
            self.store_records("seqrun", rows["seqrun"], SEQRUN_COLS)
            self.store_records("experiment", rows["experiment"], EXPERIMENT_COLS)
            self.store_with_attributes(
                "run",
                spark.createDataFrame(rows["run_wide"], RUN_COLS + ", R1_READ_COUNT long"),
                "run_id",
            )
            with rec.span("streaming.ingest_batch"):
                ingest_batch(
                    self.store, "file", spark.createDataFrame(rows["file"], FILE_COLS),
                    batch_id=stream_batch, stream_id="run_ingest",
                )
            with rec.span("qc.barcode_qc"):
                lanes = barcode_qc(stats, platform_name=spec.platform)["lane_report"].collect()
            out.update(seqrun=rows["seqrun"], violations=0, rows=rows, qc_lanes=len(lanes))
            return out

        def fn():
            # one store transaction; the traced run also counts the
            # files it wrote
            before = tree_stats(self.store_root) if rec.tracing else None
            with rec.span("store.transaction_commit"):
                with self.store.transaction():
                    result = body()
            if rec.tracing:
                after = tree_stats(self.store_root)
                new = [p for p, v in after.items() if before.get(p) != v]
                self.fs_written[0] += len(new)
                self.fs_written[1] += sum(after[p][0] for p in new)
            return result

        def check(result):
            self.registered.append(spec.seqrun_id)
            self.flagged += result["violations"]
            self.ack("seqrun", result["seqrun"])
            rows = result["rows"]
            if rows:
                self.ack("experiment", rows["experiment"])
                self.ack("run", [r[:6] for r in rows["run_wide"]])
                self.ack("run_attribute", [(r[0], "R1_READ_COUNT", str(r[6])) for r in rows["run_wide"]])
                self.ack("file", rows["file"])
                self.run_keys += [r[1] for r in rows["run_wide"]]
                self.registered_samples += sorted({sid for _p, sid in spec.metadata})
                err = checks.check_totals({"qc_lanes": spec.lanes}, {"qc_lanes": result["qc_lanes"]})
                if err:
                    return f"{spec.seqrun_id}: {err[0]}"
            return checks.check_violations(
                spec.seqrun_id, result["violations"], 0 if spec.error is None else 1
            )

        return ("write", "register_run", fn, check)

    def _registration_rows(self, spec, seqrun_id, flowcell, reg_rows, files_rows):
        sizes = {r.file_path: r.size for r in files_rows}
        exps: dict[str, tuple] = {}
        run_wide, file_rows = [], []
        for r in sorted(reg_rows, key=lambda r: (r.experiment_igf_id, r.lane_number)):
            if r.experiment_igf_id not in exps:
                e_id = self.ids["experiment"]
                self.ids["experiment"] += 1
                s_id = self.sample_ids[r.sample_igf_id]
                exps[r.experiment_igf_id] = (
                    e_id, r.experiment_igf_id, None, s_id, r.Sample_ID,
                    "GENOMIC", "WGS", "WGS", r.library_layout, "ACTIVE", spec.platform,
                )
            e_id = exps[r.experiment_igf_id][0]
            run_id = self.ids["run"]
            self.ids["run"] += 1
            run_wide.append(
                (run_id, r.run_igf_id, e_id, seqrun_id, "ACTIVE", str(int(r.lane_number)),
                 int(r.R1_READ_COUNT))
            )
            for p in (r.R1, r.R2):
                if p is None:
                    continue
                file_rows.append((self.ids["file"], p, "HPC_PROJECT", "ACTIVE", str(sizes[p])))
                self.ids["file"] += 1
        return {
            "seqrun": [(seqrun_id, spec.seqrun_id, "N", flowcell)],
            "experiment": list(exps.values()),
            "run_wide": run_wide,
            "file": file_rows,
        }

    def _status_read(self, table, key, pool):
        """A keyed read of one of the ten most recently registered keys
        of ``pool``: ``exists`` on seqruns, ``fetch_by`` otherwise."""
        held = {}

        def fn():
            keys = getattr(self, pool)
            held["key"] = keys[len(keys) - 1 - int(self.rng.randint(0, min(10, len(keys))))]
            if table == "seqrun":
                return self.exists(table, **{key: held["key"]})
            return self.fetch_by(table, **{key: held["key"]})

        def check(got):
            if table == "seqrun":
                return checks.check_exists(got, True, f"seqrun {held['key']}")
            return checks.check_fetch(got, key, held["key"], 1)

        name = ("exists." if table == "seqrun" else "fetch_by.") + table
        return ("read", name, fn, check)

    def cycle(self):
        """One run of every slot finishes on the sequencers (its folder
        is written outside any operation); then a poll, and for each
        run its registration followed by four status reads."""
        from perfbench import rundirs  # noqa: PLC0415

        if self.n_cycles >= self.MAX_CYCLES:
            return None  # every planned cycle is registered
        specs = rundirs.generate(self.runs_root, self.seed, self.n_cycles)
        self.n_cycles += 1
        ops = [self._poll()]
        for spec in specs:
            self.specs[spec.seqrun_id] = spec
            ops.append(self._register(spec, self.batch))
            self.batch += 1
            ops += [self._status_read(*r) for r in self.STATUS_READS]
        return ops

    def verify(self):
        from pyspark.sql import functions as F  # noqa: PLC0415

        specs = [self.specs[s] for s in self.registered]
        want = {
            "seqruns": len(specs),
            "rejected_seqruns": sum(1 for s in specs if s.error),
            "experiments": sum(s.experiments for s in specs if not s.error),
            "runs": sum(s.runs for s in specs if not s.error),
            "files": sum(s.files for s in specs if not s.error),
            "reads": sum(s.reads for s in specs if not s.error),
            "violations_flagged": sum(1 for s in specs if s.error),
        }
        t = self.store.table
        got = {
            "seqruns": t("seqrun").count(),
            "rejected_seqruns": t("seqrun").filter(F.col("reject_run") == "Y").count(),
            "experiments": t("experiment").count(),
            "runs": t("run").count(),
            "files": t("file").count(),
            "reads": int(
                t("run_attribute").filter(F.col("attribute_name") == "R1_READ_COUNT")
                .agg(F.sum(F.col("attribute_value").cast("long"))).first()[0] or 0
            ),
            "violations_flagged": self.flagged,
        }
        fails = [(None, r) for r in checks.check_totals(want, got)]
        tables = {"seqrun": names(SEQRUN_COLS), "file": names(FILE_COLS)}
        got_rows = {
            table: {tuple(r) for r in t(table).select(*cols).collect()}
            for table, cols in tables.items()
        }
        fails += [(None, r) for r in checks.check_readback(
            {k: self.acked.get(k, set()) for k in got_rows}, got_rows
        )]
        return fails

    def layer_metrics(self):
        files_live = sum(len(f) for _, _, f in os.walk(self.store_root))
        return {
            "store.files_written": self.fs_written[0],
            "store.bytes_written": self.fs_written[1],
            "store.write_amplification": (
                self.fs_written[1] / self.traced_user_bytes
                if self.traced_user_bytes else 0.0
            ),
            "store.files_live": files_live,
            "validation.violations_flagged": self.flagged,
        }


WORKLOADS = {w.name: w for w in (RegistryReports, RunIngest)}
