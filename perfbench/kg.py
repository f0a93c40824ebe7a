"""The KG workloads: ``kg_build`` (staged pipeline runs) and
``kg_query`` (SPARQL reads of the published triples), their output
checks and the traced run that splits both by module.

Inputs come from ``sources/synth.py`` only, seeded by the workload
seed; the program under test never sees the seed itself.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F

from . import eventlog, trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: generated records per run; transcript shape: records per
#: conversation, max payload chunks per record
RECORDS = 2000
RECORDS_PER_CONV = 3
MAX_CHUNKS = 8
#: staged input files; fixed so the input layout does not follow the host
INPUT_FILES = 8
#: the jobs/run_pipeline.py defaults (canonicalize on, expand and
#: transitive off, every conversion flag off)
OPTIONS = {"include_webdewey": False, "include_altlabels": False,
           "include_components": False, "exclude_notes": False,
           "skip_classification": False, "skip_authority": False}
#: the sparql_query.py CLI default
MAX_ROWS = 1000
#: warm-up in set-up: pipeline runs before kg_build's timed runs, untimed
#: rounds of the mix before kg_query's timed queries
WARM_UP_RUNS = 1
WARM_UP_ROUNDS = 2
#: kg_build: fewest timed pipeline runs, then rounds of the mix timed
MIN_RUNS = 2
QUERY_ROUNDS = 3
#: records sampled for the single-thread core timings
CORE_SAMPLE = 1000

TRIPLE_COLS = ("subj", "pred", "obj", "obj_is_literal", "obj_lang",
               "obj_datatype", "component_pos")
STAGES = ("records", "extracted", "triples_raw", "quarantine", "warnings",
          "triples_canonical", "triples")

SKOS = "http://www.w3.org/2004/02/skos/core#"
NOTATION, PREF_LABEL = SKOS + "notation", SKOS + "prefLabel"
BROADER, IN_SCHEME = SKOS + "broader", SKOS + "inScheme"
EXACT_MATCH = SKOS + "exactMatch"

SPECS = ("point_lookup", "two_pattern_join", "broader_plus", "group_count",
         "not_exists")


class Outcome:
    """Attempted and failed operations, and why each failure failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def setup_check(self, ok: bool, what: str) -> None:
        """A check outside the timed loop: a failure makes the run
        incorrect without counting as a timed operation."""
        if not ok:
            self.errors.append(what)


# ------------------------------------------------------------------ inputs

def stage_transcripts(spark, work: str, records: int,
                      seed: int) -> tuple[str, int]:
    """Synthetic transcripts → parquet under ``work/cache``, keyed by
    generator version, seed, size and shape.  Returns (path, turns)."""
    from mc2skos_spark.sources.synth import GEN_VERSION, transcripts_dataframe

    key = "transcripts_g%d_n%d_s%d_r%d_c%d" % (
        GEN_VERSION, records, seed, RECORDS_PER_CONV, MAX_CHUNKS)
    path = os.path.join(work, "cache", key)
    marker = path + ".turns"
    if not os.path.exists(marker):
        (transcripts_dataframe(spark, records, seed=seed,
                               records_per_conv=RECORDS_PER_CONV,
                               max_chunks=MAX_CHUNKS,
                               partitions=INPUT_FILES)
         .write.mode("overwrite").parquet(path))
        turns = spark.read.parquet(path).count()
        with open(marker + ".tmp", "w") as fp:
            fp.write(str(turns))
        os.replace(marker + ".tmp", marker)
    with open(marker) as fp:
        return path, int(fp.read())


def generated_records(records: int, seed: int) -> list[str]:
    from mc2skos_spark.sources.synth import synth_marc_records
    return [xml for _, xml in synth_marc_records(records, seed)]


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def run_pipeline(spark, warehouse: str, transcripts):
    from mc2skos_spark.plans.pipeline import KgPipeline
    return KgPipeline(spark, warehouse, options=OPTIONS).run(transcripts)


# ------------------------------------------------------------------ checks

def load_pins() -> dict:
    with open(os.path.join(HERE, "pins.json")) as fp:
        return json.load(fp)


def fold(df) -> tuple[int, int]:
    """(row count, order-insensitive xxhash64 XOR fold) of a triple
    table, over every column but the lineage ``record_id``."""
    row = df.select(F.count(F.lit(1)).alias("n"),
                    F.bit_xor(F.xxhash64(*TRIPLE_COLS)).alias("x")).first()
    return int(row["n"]), int(row["x"] or 0)


class BuildChecker:
    """Output checks of one pipeline run: the committed ``triples_raw``
    set equals ``core.api.process_records`` over the same generated
    records, and the published ``triples`` count and fold equal the
    pinned values (when pinned for this seed and size) and those of
    every other run with the same inputs."""

    def __init__(self, spark, records: int, seed: int, turns: int):
        from mc2skos_spark.core.api import process_records
        self.spark = spark
        self.expected_raw = set(process_records(
            generated_records(records, seed), OPTIONS))
        self.pin = load_pins()["kg"].get("%d:%d" % (records, seed))
        self.turns = turns
        self.first: tuple[int, int] | None = None

    def check(self, warehouse: str) -> str | None:
        """None when the run's outputs are correct, else why not."""
        from mc2skos_spark.sinks.icebergish import IcebergishCatalog
        if self.pin is not None and self.turns != self.pin["turns"]:
            return "staged %d turns != pinned %d" % (self.turns,
                                                     self.pin["turns"])
        catalog = IcebergishCatalog(warehouse, self.spark)
        raw = {tuple(r) for r in
               catalog.read("triples_raw").select(*TRIPLE_COLS).collect()}
        if raw != self.expected_raw:
            return ("triples_raw differs from process_records: %d missing,"
                    " %d extra" % (len(self.expected_raw - raw),
                                   len(raw - self.expected_raw)))
        got = fold(catalog.read("triples"))
        if self.pin is not None and list(got) != [self.pin["triples"],
                                                  self.pin["xor"]]:
            return "published triples %r != pinned %r" % (got, self.pin)
        if self.first is None:
            self.first = got
        elif got != self.first:
            return "published triples %r != first run %r" % (got,
                                                             self.first)
        return None


# ------------------------------------------------------------------ queries

def _sparql_module():
    spec = importlib.util.spec_from_file_location(
        "perfbench_sparql_query", os.path.join(ROOT, "jobs",
                                               "sparql_query.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def table_files(warehouse: str, table: str) -> list[str]:
    """Data files of the current snapshot of ``table``."""
    from mc2skos_spark.sinks.icebergish import IcebergishCatalog
    manifest = IcebergishCatalog(warehouse, None).current_manifest(table)
    out = []
    for d in manifest.get("dirs", [manifest["dir"]]):
        out += glob.glob(os.path.join(warehouse, table, d, "**",
                                      "*.parquet"), recursive=True)
    return sorted(out)


def _duckdb_triples(warehouse: str):
    """A DuckDB connection with view ``t`` over the committed parquet
    files of the published triples."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    files = table_files(warehouse, "triples")
    con.execute("CREATE VIEW t AS SELECT subj, pred, obj FROM "
                "read_parquet(%r, hive_partitioning = true)" % files)
    return con


def query_mix(warehouse: str, seed: int) -> tuple[dict, dict]:
    """The five SPARQL specs, with constants drawn (seeded) from the
    committed triples, and per spec the DuckDB query that counts its
    rows.  Returns (specs, oracle queries)."""
    con = _duckdb_triples(warehouse)

    def column(sql, params):
        return [r[0] for r in con.execute(sql, params).fetchall()]

    rng = random.Random("%d:kg_query" % seed)
    notation = rng.choice(column(
        "SELECT DISTINCT obj FROM t WHERE pred = ? ORDER BY 1", [NOTATION]))
    label = rng.choice(column(
        "SELECT DISTINCT a.obj FROM t a JOIN t b ON a.subj = b.subj "
        "WHERE a.pred = ? AND b.pred = ? ORDER BY 1", [PREF_LABEL, BROADER]))
    subject = rng.choice(column(
        "SELECT DISTINCT subj FROM t WHERE pred = ? ORDER BY 1", [BROADER]))
    for const in (notation, label):
        assert "'" not in const, const
    plan = {
        "point_lookup": (
            {"patterns": [["?c", NOTATION, "?n"]],
             "filter": "n = '%s'" % notation},
            "SELECT count(*) FROM t WHERE pred = ? AND obj = ?",
            [NOTATION, notation]),
        "two_pattern_join": (
            {"patterns": [["?c", PREF_LABEL, "?l"], ["?c", BROADER, "?p"]],
             "filter": "l = '%s'" % label},
            "SELECT count(*) FROM t a JOIN t b ON a.subj = b.subj "
            "WHERE a.pred = ? AND a.obj = ? AND b.pred = ?",
            [PREF_LABEL, label, BROADER]),
        "broader_plus": (
            {"patterns": [[subject, {"op": "plus", "args": [BROADER]},
                           "?a"]]},
            "WITH RECURSIVE r(x) AS (SELECT obj FROM t WHERE pred = ? AND "
            "subj = ? UNION SELECT t.obj FROM t JOIN r ON t.subj = r.x "
            "WHERE t.pred = ?) SELECT count(*) FROM r",
            [BROADER, subject, BROADER]),
        "group_count": (
            {"patterns": [["?c", IN_SCHEME, "?s"]], "group_by": ["s"],
             "aggregates": {"n": ["count", None]}},
            "SELECT count(DISTINCT obj) FROM t WHERE pred = ?", [IN_SCHEME]),
        "not_exists": (
            {"patterns": [["?c", PREF_LABEL, "?l"]],
             "not_exists": [[["?c", EXACT_MATCH, "?m"]]]},
            "SELECT count(*) FROM t a WHERE a.pred = ? AND NOT EXISTS "
            "(SELECT 1 FROM t b WHERE b.subj = a.subj AND b.pred = ?)",
            [PREF_LABEL, EXACT_MATCH]),
    }
    con.close()
    return ({name: spec for name, (spec, _, _) in plan.items()},
            {name: (sql, params) for name, (_, sql, params) in plan.items()})


def expected_rows(warehouse: str, oracle: dict) -> dict:
    """Rows each spec must collect: DuckDB's count, capped at MAX_ROWS."""
    con = _duckdb_triples(warehouse)
    out = {name: min(con.execute(sql, params).fetchone()[0], MAX_ROWS)
           for name, (sql, params) in oracle.items()}
    con.close()
    return out


class QueryClient:
    """One closed-loop client: each call reads the published table
    through the catalog, runs the spec with ``jobs/sparql_query.py``'s
    ``run_query`` and collects ``limit(MAX_ROWS)``, as the CLI does."""

    def __init__(self, spark, warehouse: str):
        from mc2skos_spark.sinks.icebergish import IcebergishCatalog
        self.spark = spark
        self.catalog = IcebergishCatalog(warehouse, spark)
        self.run_query = _sparql_module().run_query

    def read(self):
        return self.catalog.read("triples").select("subj", "pred", "obj")

    def query(self, spec: dict, triples=None) -> int:
        triples = self.read() if triples is None else triples
        out = self.run_query(self.spark, triples, spec)
        return len(out.limit(MAX_ROWS).collect())


def rounds(seed: int):
    """Seeded spec order, one shuffled round of all five at a time."""
    rng = random.Random("%d:order" % seed)
    while True:
        order = list(SPECS)
        rng.shuffle(order)
        yield order


# ---------------------------------------------------------------- workloads
#
# Each workload reports every end-to-end metric.  Its own phase runs for
# ``seconds``; the other workload's metric comes from a short fixed phase
# (QUERY_ROUNDS rounds of the mix after kg_build's runs, one warm
# pipeline run before kg_query's queries), so both stay comparable
# across commits.

def time_builds(spark, warehouse, transcripts, checker, outcome,
                seconds: float, min_runs: int) -> list[float]:
    """Full pipeline runs into a fresh ``warehouse``, at least
    ``min_runs`` and until ``seconds`` have been spent; each run's
    outputs are checked untimed.  Returns the wall time of each run."""
    walls: list[float] = []
    while len(walls) < min_runs or sum(walls) < seconds:
        fresh_dir(warehouse)
        t0 = time.perf_counter()
        try:
            run_pipeline(spark, warehouse, transcripts)
            error = None
        except Exception as exc:  # a failed run is counted, not fatal
            error = "pipeline raised %r" % exc
        walls.append(time.perf_counter() - t0)
        if error is None:
            error = checker.check(warehouse)
        outcome.record(error is None, "run %d: %s" % (len(walls), error))
    return walls


def time_queries(client, specs, expected, order, outcome,
                 seconds: float, min_rounds: int) -> dict:
    """Whole rounds of the mix, at least ``min_rounds`` and until
    ``seconds`` have been spent; each row count is checked against
    DuckDB.  Returns each spec's latencies in seconds."""
    per_spec: dict[str, list[float]] = {name: [] for name in SPECS}
    spent, done = 0.0, 0
    while done < min_rounds or spent < seconds:
        for name in next(order):
            t0 = time.perf_counter()
            try:
                rows = client.query(specs[name])
            except Exception as exc:  # a failed query is counted
                rows = "raised %r" % exc
            dt = time.perf_counter() - t0
            spent += dt
            per_spec[name].append(dt)
            outcome.record(rows == expected[name], "%s: %s rows, DuckDB %d"
                           % (name, rows, expected[name]))
        done += 1
    return per_spec


def warm_queries(spark, warehouse, seed, warm_up_rounds: int):
    """Spec constants, a client and untimed warm-up rounds of the mix.
    Returns (client, specs, oracle, seconds spent)."""
    t0 = time.perf_counter()
    specs, oracle = query_mix(warehouse, seed)
    client = QueryClient(spark, warehouse)
    for _ in range(warm_up_rounds):
        for name in SPECS:
            client.query(specs[name])
    return client, specs, oracle, time.perf_counter() - t0


def _results(setup_s, turns, walls, per_spec, details):
    ms = [s * 1000.0 for v in per_spec.values() for s in v]
    metrics = {"setup_s": (setup_s, "s"),
               "kg_turns_per_s": (turns / statistics.median(walls), "1/s"),
               "query_p50_ms": (statistics.median(ms), "ms"),
               "query_p90_ms": (statistics.quantiles(
                   ms, n=10, method="inclusive")[-1], "ms")}
    details.update({"turns": turns, "runs": len(walls), "run_wall_s": walls,
                    "samples": len(ms),
                    "spec_p50_ms": {n: statistics.median(v) * 1000.0
                                    for n, v in per_spec.items()}})
    return metrics, details


def kg_build(spark, work, records, seed, seconds, t_start, outcome):
    """``kg_build``: set-up stages the input and makes WARM_UP_RUNS
    pipeline runs; then full pipeline runs into fresh warehouses for
    ``seconds`` (at least MIN_RUNS), then one warm-up and QUERY_ROUNDS
    timed rounds of the mix over the last one."""
    path, turns = stage_transcripts(spark, work, records, seed)
    transcripts = spark.read.parquet(path)
    warehouse = os.path.join(work, "wh", "build")
    for _ in range(WARM_UP_RUNS):
        run_pipeline(spark, fresh_dir(warehouse), transcripts)
    setup_s = time.perf_counter() - t_start

    checker = BuildChecker(spark, records, seed, turns)
    error = checker.check(warehouse)
    outcome.setup_check(error is None, "warm-up: %s" % error)
    walls = time_builds(spark, warehouse, transcripts, checker, outcome,
                        seconds, MIN_RUNS)
    # one warm-up round: the pipeline runs have already warmed the JVM
    client, specs, oracle, warm_s = warm_queries(spark, warehouse, seed, 1)
    per_spec = time_queries(client, specs, expected_rows(warehouse, oracle),
                            rounds(seed), outcome, 0.0, QUERY_ROUNDS)
    return _results(setup_s + warm_s, turns, walls, per_spec,
                    {"records": records, "fold": checker.first})


def kg_query(spark, work, records, seed, seconds, t_start, outcome):
    """``kg_query``: set-up stages the input and builds the warehouse;
    one more (timed, warm) pipeline run rebuilds it; after
    WARM_UP_ROUNDS untimed rounds, one client issues the seeded mix for
    ``seconds`` (whole rounds only)."""
    path, turns = stage_transcripts(spark, work, records, seed)
    transcripts = spark.read.parquet(path)
    warehouse = os.path.join(work, "wh", "query")
    run_pipeline(spark, fresh_dir(warehouse), transcripts)
    setup_s = time.perf_counter() - t_start

    checker = BuildChecker(spark, records, seed, turns)
    walls = time_builds(spark, warehouse, transcripts, checker, outcome,
                        0.0, 1)
    client, specs, oracle, warm_s = warm_queries(spark, warehouse, seed,
                                                 WARM_UP_ROUNDS)
    per_spec = time_queries(client, specs, expected_rows(warehouse, oracle),
                            rounds(seed), outcome, seconds, 1)
    return _results(setup_s + warm_s, turns, walls, per_spec,
                    {"records": records})


WORKLOADS = {"kg_build": kg_build, "kg_query": kg_query}


# ------------------------------------------------------------------ traced

def core_timings(records: int, seed: int) -> dict:
    """Single-thread wall time per record of the three core layers over
    a fixed sample of generated records, best of three passes."""
    from mc2skos_spark.core.api import build_vocabularies
    from mc2skos_spark.core.extract import extract_concept
    from mc2skos_spark.core.marcxml import parse_record_xml
    from mc2skos_spark.core.triples import concept_to_triples

    xmls = generated_records(min(records, CORE_SAMPLE), seed)
    vocabularies = build_vocabularies()
    best = {"parse": float("inf"), "extract": float("inf"),
            "triples": float("inf")}
    for _ in range(3):
        t0 = time.perf_counter()
        parsed = [parse_record_xml(x) for x in xmls]
        t1 = time.perf_counter()
        bags = [extract_concept(r, vocabularies, OPTIONS) for r in parsed]
        t2 = time.perf_counter()
        for bag in bags:
            if bag is not None:
                list(concept_to_triples(bag, OPTIONS))
        t3 = time.perf_counter()
        best = {"parse": min(best["parse"], t1 - t0),
                "extract": min(best["extract"], t2 - t1),
                "triples": min(best["triples"], t3 - t2)}
    return {"core.%s_us_per_record" % k: v * 1e6 / len(xmls)
            for k, v in best.items()}


def decomposed_build(spark, tracer, transcripts, warehouse) -> dict:
    """``kg_build`` one operator at a time, each output cached and
    counted inside its own span, then each materialized output
    committed to a fresh catalog.  Returns the row counts."""
    from mc2skos_spark.operators.canonicalize import (candidate_sameas_edges,
                                                      canonical_mapping,
                                                      rewrite_canonical)
    from mc2skos_spark.operators.extract import (extract_triples,
                                                 triples_from_extracted)
    from mc2skos_spark.sinks.icebergish import IcebergishCatalog
    from mc2skos_spark.sinks.serializers import with_pred_key
    from mc2skos_spark.sources.transcripts import reassemble_records

    counts = {}
    with tracer.span("sources.reassemble"):
        records = reassemble_records(transcripts).cache()
        counts["records_out"] = records.count()
    with tracer.span("operators.extract"):
        extracted = extract_triples(records, OPTIONS).cache()
        extracted.count()
        triples = triples_from_extracted(extracted).cache()
        counts["triples_in"] = triples.count()
    kinds = {r["row_kind"]: r["count"]
             for r in extracted.groupBy("row_kind").count().collect()}
    counts["triples_out"] = kinds.get("triple", 0)
    counts["quarantine_out"] = kinds.get("quarantine", 0)
    counts["candidate_edges"] = candidate_sameas_edges(triples).count()
    with tracer.span("operators.canonicalize"):
        with tracer.span("operators.canonicalize.mapping"):
            mapping = canonical_mapping(triples).cache()
            mapping.count()
        with tracer.span("operators.canonicalize.rewrite"):
            canonical = rewrite_canonical(triples, mapping).cache()
            counts["canonical_out"] = canonical.count()
    catalog = IcebergishCatalog(fresh_dir(warehouse), spark)
    with tracer.span("sinks.icebergish.commit"):
        catalog.write("records", records, lineage_key="record_id")
        catalog.write("extracted", extracted, partition_by=["row_kind"],
                      lineage_key="record_id")
        catalog.write("triples_raw", triples, lineage_key="subj")
        catalog.write("triples_canonical", canonical, lineage_key="subj")
        catalog.write("triples", with_pred_key(canonical),
                      partition_by=["pred_key"], lineage_key="subj")
    files = glob.glob(os.path.join(warehouse, "**", "*.parquet"),
                      recursive=True)
    counts["files_written"] = len(files)
    counts["bytes_written"] = sum(os.path.getsize(f) for f in files)
    for df in (canonical, mapping, triples, extracted, records):
        df.unpersist()
    return counts


def traced(spark, work, records, seed, session_s, outcome):
    """The traced run: same inputs as the measured runs; every region
    inside a span.  Returns a callable that, once the session has
    stopped and the event log is complete, gives the per-layer metrics."""
    path, turns = stage_transcripts(spark, work, records, seed)
    transcripts = spark.read.parquet(path)
    checker = BuildChecker(spark, records, seed, turns)
    tracer = trace.Tracer(spark)
    wh_plain = os.path.join(work, "wh", "plain")
    wh_full = os.path.join(work, "wh", "full")
    wh_dec = os.path.join(work, "wh", "decomposed")

    run_pipeline(spark, fresh_dir(wh_plain), transcripts)  # warm-up
    t0 = time.perf_counter()
    run_pipeline(spark, fresh_dir(wh_plain), transcripts)
    plain_s = time.perf_counter() - t0
    error = checker.check(wh_plain)
    outcome.record(error is None, "plain run: %s" % error)

    core = core_timings(records, seed)

    fresh_dir(wh_full)
    with trace.wrapped_catalog_writes(tracer, "plans.pipeline"):
        with tracer.span("plans.pipeline"):
            run_pipeline(spark, wh_full, transcripts)
    error = checker.check(wh_full)
    outcome.record(error is None, "traced run: %s" % error)

    counts = decomposed_build(spark, tracer, transcripts, wh_dec)

    specs, oracle = query_mix(wh_full, seed)
    expected = expected_rows(wh_full, oracle)
    n_files = len(table_files(wh_full, "triples"))
    client = QueryClient(spark, wh_full)
    plain_ms = []
    for name in SPECS:
        t0 = time.perf_counter()
        rows = client.query(specs[name])
        plain_ms.append((time.perf_counter() - t0) * 1000.0)
        outcome.record(rows == expected[name], "plain %s" % name)
    order = rounds(seed)
    for _ in range(2):
        for name in next(order):
            with tracer.span("operators.bgp.%s" % name):
                with tracer.span("sinks.icebergish.read"):
                    triples = client.read()
                rows = client.query(specs[name], triples)
            outcome.record(rows == expected[name], "traced %s" % name)

    def metrics(groups: dict) -> dict:
        out = {"plans.session.build_s": (session_s, "s")}
        full = tracer.named("plans.pipeline")[0]
        out["plans.pipeline.wall_s"] = (full.wall_s, "s")
        for stage in STAGES:
            spans = tracer.named("plans.pipeline.%s" % stage)
            out["plans.pipeline.%s.s" % stage] = (
                sum(s.wall_s for s in spans), "s")
        out["plans.pipeline.gap_s"] = (full.self_s, "s")
        out.update(_counters("plans.pipeline", tracer.engine(groups,
                                                             [full])))

        reassemble = tracer.named("sources.reassemble")
        out["sources.reassemble.s"] = (reassemble[0].wall_s, "s")
        out["sources.reassemble.turns_in"] = (turns, "count")
        out["sources.reassemble.records_out"] = (counts["records_out"],
                                                 "count")
        out.update(_counters("sources.reassemble",
                             tracer.engine(groups, reassemble)))

        out.update({k: (v, "us") for k, v in core.items()})

        extract = tracer.named("operators.extract")
        engine = tracer.engine(groups, extract)
        out["operators.extract.s"] = (extract[0].wall_s, "s")
        out["operators.extract.python_run_s"] = (
            engine.python["python_run_ms"] / 1000.0, "s")
        out["operators.extract.to_python_bytes"] = (
            engine.python["to_python_bytes"], "bytes")
        out["operators.extract.from_python_bytes"] = (
            engine.python["from_python_bytes"], "bytes")
        out["operators.extract.triples_out"] = (counts["triples_out"],
                                                "count")
        out["operators.extract.quarantine_out"] = (counts["quarantine_out"],
                                                   "count")
        out.update(_counters("operators.extract", engine))

        canon = tracer.named("operators.canonicalize")
        out["operators.canonicalize.mapping_s"] = (
            tracer.named("operators.canonicalize.mapping")[0].wall_s, "s")
        out["operators.canonicalize.rewrite_s"] = (
            tracer.named("operators.canonicalize.rewrite")[0].wall_s, "s")
        out["operators.canonicalize.candidate_edges"] = (
            counts["candidate_edges"], "count")
        out["operators.canonicalize.dedup_ratio"] = (
            counts["canonical_out"] / max(counts["triples_in"], 1), "ratio")
        out.update(_counters("operators.canonicalize",
                             tracer.engine(groups, canon)))

        bgp_spans = [s for s in tracer.spans
                     if s.name.startswith("operators.bgp.")]
        for name in SPECS:
            walls = [s.wall_s for s in tracer.named("operators.bgp.%s"
                                                    % name)]
            out["operators.bgp.%s.p50_ms" % name] = (
                statistics.median(walls) * 1000.0, "ms")
        bgp = tracer.engine(groups, bgp_spans)
        out["operators.bgp.jobs_per_query"] = (bgp.jobs / len(bgp_spans),
                                               "count")
        out.update(_counters("operators.bgp", bgp))

        commit = tracer.named("sinks.icebergish.commit")
        engine = tracer.engine(groups, commit)
        out["sinks.icebergish.commit_s"] = (commit[0].wall_s, "s")
        out["sinks.icebergish.commit_jobs"] = (engine.jobs, "count")
        out["sinks.icebergish.bytes_written"] = (counts["bytes_written"],
                                                 "bytes")
        out["sinks.icebergish.files_written"] = (counts["files_written"],
                                                 "count")
        out.update({k: v for k, v in
                    _counters("sinks.icebergish.commit", engine).items()
                    if k != "sinks.icebergish.commit.jobs"})
        reads = tracer.named("sinks.icebergish.read")
        out["sinks.icebergish.read_s"] = (
            statistics.median(s.wall_s for s in reads), "s")
        ratios = []
        for sp in bgp_spans:
            g = tracer.engine(groups, [sp])
            ratios.append(g.files_read / max(g.scans * n_files, 1))
        out["sinks.icebergish.files_scanned_ratio"] = (
            statistics.mean(ratios), "ratio")

        out["trace.kg_build_overhead_s"] = (full.wall_s - plain_s, "s")
        out["trace.query_overhead_ms"] = (
            statistics.median(s.wall_s for s in bgp_spans) * 1000.0
            - statistics.median(plain_ms), "ms")
        return out

    return metrics


def _counters(prefix: str, stats: eventlog.GroupStats) -> dict:
    units = {"executor_run_s": "s", "gc_s": "s", "task_skew": "ratio",
             "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
             "spill_bytes": "bytes"}
    return {"%s.%s" % (prefix, k): (v, units.get(k, "count"))
            for k, v in stats.counters().items()}
