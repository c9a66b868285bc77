"""The workloads: each sets up, measures a closed loop for the
given number of seconds, and returns its op records for checking.

Every call into the program runs inside a span (``Bench.tr.span``)
named after the layer it enters, so the traced run can split each
op's wall time by layer. With tracing off the same calls run
unrecorded.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import subprocess
import threading
import time
from dataclasses import dataclass, field

import gen
import stats
from spans import ROOT, Tracer

# scale of the generated tables per workload
ANALYTIC_SF = 0.005   # 30k lineitems: ~39k nodes, ~98k edges
WRITE_SF = 0.0001     # ~10k triples in the N-Triples file
WRITE_MIN_ROUNDS = 2  # a write round is only 3 requests
CPUS = 4


def stop_jvm(gateway, timeout: float = 60.0) -> None:
    """End the JVM that pyspark launched: it exits when its stdin
    closes; kill it if it has not within ``timeout`` seconds."""
    if gateway is None:
        return
    from pyspark import SparkContext

    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the connection may already be gone
        pass
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reap_children(timeout: float = 30.0) -> None:
    """Wait until no process below this one is left, reaping each;
    kill what is still there after ``timeout`` seconds. Orphans come
    back to this process because ``run.py`` makes it a subreaper."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        left = [p for p in stats.descendants(me) if p != me]
        if not left:
            return
        now = time.monotonic()
        if now > deadline + 10:
            raise RuntimeError(f"processes {left} did not end")
        if now > deadline:
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


@dataclass
class OpRecord:
    kind: str
    op_id: str
    start: float
    end: float
    params: dict = field(default_factory=dict)
    result: dict | None = None   # part name -> (columns, rows)
    error: str | None = None

    @property
    def latency(self) -> float:
        return self.end - self.start


class Bench:
    """State of one run: session, tracer, work directory, records."""

    def __init__(self, work_dir: str, seed: int, seconds: float, tracer: Tracer):
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.spark = None
        self.records: list[OpRecord] = []
        self.setup: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        # op id -> [shuffle exchanges, broadcast exchanges, plan nodes]
        self.plan_stats: dict[str, list[int]] = {}
        self.window: tuple[float, float] = (0.0, 0.0)
        self.window_cpu_s = 0.0       # CPU time of the process tree in the window
        self.window_steal = 0.0       # share of the machine's CPU time stolen in it
        self.window_jvm = (0.0, 0.0)  # JVM GC and JIT seconds in it
        self._at_open = (0.0, (0, 0), (0.0, 0.0))
        self.counts0: dict[str, float] = {}  # tracer counts when measuring began
        self.phases: dict[str, float] = {}   # wall seconds per run phase, for the report

    # ---- session -----------------------------------------------------

    def start_session(self) -> None:
        from pidb_rdf_spark.session import get_spark

        conf = {"spark.ui.enabled": "false"}
        if self.tr.enabled:
            from spans import event_log_conf

            conf.update(event_log_conf(os.path.join(self.work, "eventlog")))
        t0 = time.perf_counter()
        with self.tr.span("session.start"):
            self.spark = get_spark("perfbench", cpus=CPUS, shuffle_partitions=CPUS, extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session.start_s"] = time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop the session, then the JVM behind it, and wait until
        every process the run started has ended."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            stop_jvm(gateway)
            reap_children()

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def mark(self) -> None:
        self.counts0 = dict(self.tr.counts)

    def open_window(self) -> float:
        """Start the measured window; returns its start time."""
        self._at_open = (stats.cpu_seconds(), stats.host_ticks(), self.jvm_times())
        return time.perf_counter()

    def close_window(self, start: float) -> None:
        end = time.perf_counter()
        cpu0, (steal0, total0), (gc0, jit0) = self._at_open
        steal1, total1 = stats.host_ticks()
        gc1, jit1 = self.jvm_times()
        self.window = (start, end)
        self.window_cpu_s = stats.cpu_seconds() - cpu0
        self.window_steal = (steal1 - steal0) / max(1, total1 - total0)
        self.window_jvm = (gc1 - gc0, jit1 - jit0)

    def jvm_times(self) -> tuple[float, float]:
        """Seconds the driver JVM has spent in garbage collection and
        in JIT compilation since it started."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(bean.getCollectionTime() for bean in mf.getGarbageCollectorMXBeans())
        return gc_ms / 1000.0, mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0

    def set_group(self, group: str) -> None:
        if self.tr.enabled:
            self.spark.sparkContext.setJobGroup(group, group)

    # ---- one op --------------------------------------------------------

    def run_op(self, kind: str, op_id: str, params: dict, body, timed: bool = True) -> OpRecord:
        """Run ``body()`` as one request under a root span and job
        group; an exception is recorded as a failed op, not raised."""
        self.set_group(op_id)
        rec = OpRecord(kind, op_id, 0.0, 0.0, params)
        rec.start = time.perf_counter()
        try:
            with self.tr.span(ROOT, op_id=op_id):
                rec.result = body()
        except Exception as exc:  # an op failure is a measured outcome
            rec.error = f"{type(exc).__name__}: {exc}"[:500]
        rec.end = time.perf_counter()
        self.set_group("idle")
        if timed:
            self.records.append(rec)
        return rec

    def warm_up(self, ops) -> float:
        """Run ``(kind, params, body)`` ops once each, untimed, on up
        to ``CPUS`` threads; returns the wall time."""
        t0 = time.perf_counter()
        todo = list(enumerate(ops))
        lock = threading.Lock()

        def worker():
            while True:
                with lock:
                    if not todo:
                        return
                    i, (kind, params, body) = todo.pop(0)
                self.run_op(kind, f"warm-{i}", params, body, timed=False)

        threads = [threading.Thread(target=worker) for _ in range(min(CPUS, len(ops)))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return time.perf_counter() - t0

    def collect(self, df, op_id: str | None = None):
        """Plan, then execute ``df``; returns (columns, rows)."""
        with self.tr.span("spark.plan"):
            plan = df._jdf.queryExecution().executedPlan()
        if self.tr.enabled and op_id is not None:
            with self.tr.span("trace.count"):
                nodes = [line.lstrip(" :+-*(0123456789)") for line in plan.treeString().splitlines()]
                nodes = [n for n in nodes if n]
                st = self.plan_stats.setdefault(op_id, [0, 0, 0])
                st[0] += sum(n.startswith("Exchange ") for n in nodes)
                st[1] += sum(n.startswith("BroadcastExchange ") for n in nodes)
                st[2] += len(nodes)
        with self.tr.span("spark.exec"):
            rows = df.collect()
        return list(df.columns), [tuple(r) for r in rows]


def build_graph(b: Bench, table_dir: str):
    """graphify + the schema inventories every compile consults."""
    from pidb_rdf_spark.graph import graphify

    t0 = time.perf_counter()
    with b.tr.span("graph.build"):
        g = graphify(b.spark, table_dir)
    t1 = time.perf_counter()
    with b.tr.span("graph.inventory"):
        g.node_prop_keys()
        g.edge_predicate_names()
        g.prop_type_families()
    t2 = time.perf_counter()
    return g, t1 - t0, t2 - t1


def done(b: Bench, start: float, i: int, per_round: int, min_rounds: int = 1) -> bool:
    """Measure whole rounds of the op mix, so every run measures the
    same mix whatever its seed: stop before op ``i`` only at a round
    boundary, after ``min_rounds`` rounds and ``b.seconds``."""
    rounds, rest = divmod(i, per_round)
    return rest == 0 and rounds >= min_rounds and time.perf_counter() - start >= b.seconds


# ---- analytic -----------------------------------------------------------

def analytic_texts(kind: str, p: dict) -> str:
    if kind == "q1_pricing":
        return f"""
        SELECT ?rf ?ls (COUNT(?l) AS ?n) (SUM(?qty_cents) AS ?sum_qty_cents)
               (SUM(?price_cents) AS ?sum_price_cents)
        WHERE {{
          ?l v:label "Lineitem" . ?l v:l_returnflag ?rf . ?l v:l_linestatus ?ls .
          ?l v:l_quantity ?qty . ?l v:l_extendedprice ?price . ?l v:l_shipdate ?sd .
          FILTER(?sd <= "{p["cutoff"]}")
          BIND(ROUND(?qty * 100) AS ?qty_cents) BIND(ROUND(?price * 100) AS ?price_cents)
        }} GROUP BY ?rf ?ls ORDER BY ?rf ?ls"""
    if kind == "three_hop_volume":
        return f"""
        SELECT ?nation (COUNT(?l) AS ?n_items) WHERE {{
          ?l v:label "Lineitem" . ?l v:l_returnflag "{p["flag"]}" . ?l v:l_quantity ?q .
          FILTER(?q >= {p["min_qty"]})
          ?l e:PART_OF ?o . ?o e:PLACED_BY ?c . ?c e:IN_NATION ?nt . ?nt v:n_name ?nation .
        }} GROUP BY ?nation ORDER BY ?nation"""
    if kind == "subselect_nation":
        return f"""
        SELECT ?nation ?n WHERE {{
          ?nat v:n_name ?nation .
          {{ SELECT ?nat (COUNT(?o) AS ?n) WHERE {{
              ?c e:IN_NATION ?nat . ?o e:PLACED_BY ?c . ?o v:o_totalprice ?t .
              FILTER(?t > {p["min_total"]})
            }} GROUP BY ?nat }}
        }} ORDER BY DESC(?n) ?nation"""
    if kind == "path_closure":
        return f"SELECT ?x WHERE {{ ?x (e:IN_NATION|e:IN_REGION)+ <urn:region:{p['region']}> }}"
    if kind == "construct_region":
        return f"""
        CONSTRUCT {{ ?c e:IN_REGION ?r }} WHERE {{
          ?c v:label "Customer" . ?c v:c_mktsegment "{p["segment"]}" . ?c e:IN_NATION/e:IN_REGION ?r .
        }}"""
    raise ValueError(kind)


CYPHER_AGG = ("MATCH (o:Orders)-[:PLACED_BY]->(c)-[:IN_NATION]->(n:Nation) "
              "WHERE o.o_totalprice > $t "
              "RETURN n.n_name AS nation, count(*) AS n_orders, count(DISTINCT c) AS n_custs")


def reasoner_hierarchy(spark, table_dir: str):
    """Label (SLO), uri containment (SCO) and relationship (SRO) rows
    in one kind-less frame, as the reasoners' shared ontology."""
    from pyspark.sql import functions as F

    labels = spark.createDataFrame(
        [("Customer", "Actor"), ("Supplier", "Actor"), ("Nation", "Place"), ("Region", "Place")],
        schema="child string, parent string",
    )
    nations = spark.read.parquet(os.path.join(table_dir, "nation.parquet"))
    containment = nations.select(
        F.concat(F.lit("urn:nation:"), F.col("n_nationkey").cast("string")).alias("child"),
        F.concat(F.lit("urn:region:"), F.col("n_regionkey").cast("string")).alias("parent"),
    )
    rels = spark.createDataFrame(
        [("IN_NATION", "LOCATED"), ("IN_REGION", "LOCATED")], schema="child string, parent string"
    )
    return labels.unionAll(containment).unionAll(rels)


def analytic_body(b: Bench, g, hier, kind: str, p: dict, op_id: str):
    from pyspark.sql import functions as F

    def body():
        if kind in ("q1_pricing", "three_hop_volume", "subselect_nation", "path_closure",
                    "construct_region"):
            from pidb_rdf_spark.sparql import sparql

            with b.tr.span("sparql.compile"):
                df = sparql(g, analytic_texts(kind, p))
            return {"main": b.collect(df, op_id)}
        if kind == "cypher_aggregate":
            from pidb_rdf_spark.cypher import cypher

            with b.tr.span("cypher.compile"):
                df = cypher(g, CYPHER_AGG, params={"t": p["min_total"]})
            return {"main": b.collect(df, op_id)}
        if kind == "dsl_repeat_until":
            from pidb_rdf_spark.dsl import P, traversal

            with b.tr.span("dsl.compile"):
                t = traversal(g).V().has_label(p["start"])
                if p["start"] == "Customer":
                    t = t.has("c_acctbal", P.gt(p["min_bal"]))
                elif p["start"] == "Supplier":
                    t = t.has("s_acctbal", P.gt(p["min_bal"]))
                t = t.as_("start").repeat(
                    lambda x: x.out("IN_NATION", "IN_REGION"),
                    until=lambda x: x.has_label("Region"),
                ).as_("dest")
                df = t.select("start", "dest").select(
                    F.col("start").alias("start_uri"), F.col("dest").alias("dest_uri"))
            return {"main": b.collect(df, op_id)}
        if kind == "reasoners":
            from pidb_rdf_spark import inference as inf

            with b.tr.span("inference.closure"):
                labelled = inf.get_nodes_with_label(g, hier, p["label"])
                linked = inf.get_nodes_linked_to(g, hier, f"urn:region:{p['region']}", rel="IN_NATION")
                edges = inf.get_rels(g, hier, p["rel"])
            b.tr.count("inference.calls", 3)
            src = g.nodes.select(F.col("id").alias("src"), F.col("uri").alias("a"))
            dst = g.nodes.select(F.col("id").alias("dst"), F.col("uri").alias("c"))
            rels = edges.join(src, on="src").join(dst, on="dst").select(
                "a", F.col("predicate").alias("b"), "c")
            return {
                "label": b.collect(labelled.select("uri"), op_id),
                "linked": b.collect(linked.select("uri"), op_id),
                "rels": b.collect(rels, op_id),
            }
        if kind == "pagerank":
            from pidb_rdf_spark.analytics import pagerank

            cont = g.edges.filter(F.col("predicate").isin("IN_NATION", "IN_REGION"))
            with b.tr.span("analytics.call"):
                ranks = pagerank(cont, n_iter=10, damping=p["damping"])
            df = ranks.join(
                g.nodes.withColumnsRenamed({"id": "node", "uri": "node_uri"}), on="node"
            ).select("node_uri", F.floor(F.col("rank") * 1e6).cast("long").alias("rank_bucket"))
            return {"main": b.collect(df, op_id)}
        raise ValueError(kind)
    return body


def run_analytic(b: Bench) -> dict:
    from pidb_rdf_spark import inference

    with b.phase("inputs"):
        tables = gen.make_tables(ANALYTIC_SF, b.seed)
        table_dir = os.path.join(b.work, "tables")
        gen.write_tables(tables, table_dir)

    with b.phase("session"):
        b.start_session()
    with b.phase("graph"):
        b.set_group("setup")
        g, build_s, inv_s = build_graph(b, table_dir)
    hier = reasoner_hierarchy(b.spark, table_dir)
    warm = b.warm_up([(kind, p, analytic_body(b, g, hier, kind, p, f"warm-{i}"))
                      for i, (kind, p) in enumerate(gen.analytic_stream(b.seed + 7919, len(gen.ANALYTIC_KINDS)))])

    computes0 = inference.CLOSURE_COMPUTES
    stream = gen.analytic_stream(b.seed, 100 * len(gen.ANALYTIC_KINDS))
    b.mark()
    start = b.open_window()
    for i, (kind, p) in enumerate(stream):
        if done(b, start, i, len(gen.ANALYTIC_KINDS)):
            break
        op_id = f"a-{i}"
        b.run_op(kind, op_id, p, analytic_body(b, g, hier, kind, p, op_id))
    b.close_window(start)
    b.extra["inference.closure_computes"] = inference.CLOSURE_COMPUTES - computes0
    return {"table_dir": table_dir, "tables": tables, "build_s": build_s, "inv_s": inv_s, "warm_s": warm}


# ---- write_mix ----------------------------------------------------------

XSD = "http://www.w3.org/2001/XMLSchema#"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.endswith(".crc"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def write_texts(op: dict, prefix: str, segment_of) -> tuple[str, str, dict | None, str, object]:
    """(front end, update text, cypher params, read-back SPARQL,
    expected read-back value or None for "no rows")."""
    ns, kind, v, tag = gen.NS, op["kind"], op["value"], op["tag"]
    pv = f"v:{prefix}__"
    if kind == "insert_data":
        return ("sparql",
                f'INSERT DATA {{ <urn:bench:{tag}> <{ns}note_value> "{v}"^^<{XSD}long> . '
                f'<urn:bench:{tag}> a <{ns}Note> . }}', None,
                f"SELECT ?x WHERE {{ <urn:bench:{tag}> {pv}note_value ?x }}", v)
    if kind == "delete_data":
        k = op["key"]
        return ("sparql",
                f'DELETE DATA {{ <urn:customer:{k}> <{ns}c_mktsegment> "{segment_of(k)}" }}', None,
                f"SELECT ?x WHERE {{ <urn:customer:{k}> {pv}c_mktsegment ?x }}", None)
    if kind == "modify_where":
        k = op["key"]
        return ("sparql",
                f'DELETE {{ ?c <{ns}c_acctbal> ?b }} INSERT {{ ?c <{ns}c_acctbal> "{v}.5"^^<{XSD}double> }} '
                f"WHERE {{ ?c {pv}c_custkey {k} . ?c {pv}c_acctbal ?b }}", None,
                f"SELECT ?x WHERE {{ <urn:customer:{k}> {pv}c_acctbal ?x }}", v + 0.5)
    if kind == "cypher_set":
        k = op["key"]
        return ("cypher",
                f"MATCH (c:{prefix}__Customer {{{prefix}__c_custkey: $k}}) SET c.{prefix}__bench_tag = $v",
                {"k": k, "v": v},
                f"SELECT ?x WHERE {{ <urn:customer:{k}> {pv}bench_tag ?x }}", v)
    if kind == "cypher_create":
        return ("cypher",
                f"CREATE (n:{prefix}__Note {{{prefix}__tag: $tag, {prefix}__value: $v}})",
                {"tag": tag, "v": v},
                f'SELECT ?x WHERE {{ ?n {pv}tag "{tag}" . ?n {pv}value ?x }}', v)
    raise ValueError(kind)


def ingest(b: Bench, nt_path: str, store: str):
    """read_ntriples -> import_triples -> save_graph -> load_graph."""
    from pidb_rdf_spark.mutation import load_graph, save_graph
    from pidb_rdf_spark.sources import read_ntriples
    from pidb_rdf_spark.sources.importer import import_triples

    shutil.rmtree(store, ignore_errors=True)
    with b.tr.span("sources.read"):
        triples = read_ntriples(b.spark, nt_path)
    with b.tr.span("sources.import"):
        g = import_triples(b.spark, triples)
    with b.tr.span("mutation.save"):
        save_graph(g, store)
    b.tr.count("mutation.bytes_written", dir_bytes(store))
    with b.tr.span("mutation.load"):
        g = load_graph(b.spark, store)
    return triples, g


def commit(b: Bench, g, store: str):
    from pidb_rdf_spark.mutation import load_graph, save_graph

    with b.tr.span("mutation.save"):
        save_graph(g, store)
    b.tr.count("mutation.bytes_written", dir_bytes(store))
    with b.tr.span("mutation.load"):
        return load_graph(b.spark, store)


def apply_write(b: Bench, g, front: str, text: str, params):
    if front == "sparql":
        from pidb_rdf_spark.sparql import sparql_update

        with b.tr.span("sparql.update.apply"):
            return sparql_update(g, text)
    from pidb_rdf_spark.cypher_write import cypher_write

    with b.tr.span("cypher_write.apply"):
        return cypher_write(g, text, params=params)


def namespace_prefix(g, namespace: str) -> str:
    rows = g.namespaces.filter(g.namespaces.namespace == namespace).collect()
    return rows[0]["prefix"]


def run_write_mix(b: Bench) -> dict:
    from pidb_rdf_spark.sparql import sparql

    with b.phase("inputs"):
        tables = gen.make_tables(WRITE_SF, b.seed)
        nt_path = os.path.join(b.work, "graph.nt")
        expect = gen.write_ntriples(tables, nt_path)
    segments = tables["customer"].column("c_mktsegment").to_pylist()

    # set-up: one bulk ingest of the whole file
    with b.phase("session"):
        b.start_session()
    b.mark()
    store = os.path.join(b.work, "store")
    with b.phase("ingest"):
        b.set_group("ingest")
        t0 = time.perf_counter()
        with b.tr.span(ROOT, op_id="ingest"):
            triples, g = ingest(b, nt_path, store)
        ingest_s = time.perf_counter() - t0
        b.set_group("setup")
    b.extra["ingest_s"] = ingest_s
    b.extra["ingest_triples"] = expect["triples"]
    b.extra["stored_bytes_per_input_byte"] = dir_bytes(store) / os.path.getsize(nt_path)
    counts = {"triples": triples.count(), "nodes": g.nodes.count(), "edges": g.edges.count()}
    prefix = namespace_prefix(g, gen.NS)

    # one untimed warm-up request through both write front ends,
    # committed and read back
    t0 = time.perf_counter()
    warm_ops = [write_texts(op, prefix, segments.__getitem__)
                for op in gen.write_requests(b.seed + 7919, len(segments), 2)[1]]
    for front, text, params, _, _ in warm_ops:
        g = apply_write(b, g, front, text, params)
    g = commit(b, g, store)
    for _, _, _, read, _ in warm_ops:
        sparql(g, read).collect()
    warm = time.perf_counter() - t0

    # update requests in whole rounds of WRITE_SHAPES; each is
    # acknowledged once committed, then every operation is read back
    keyed = sum(k in gen.KEYED_WRITES for shape in gen.WRITE_SHAPES for k in shape)
    rounds = min(12, len(segments) // keyed)
    stream = gen.write_requests(b.seed, len(segments), rounds * len(gen.WRITE_SHAPES))
    requests, reads = [], []
    state = {"g": g}
    start = b.open_window()
    for r, ops in enumerate(stream):
        if done(b, start, r, len(gen.WRITE_SHAPES), WRITE_MIN_ROUNDS):
            break
        texts = [write_texts(op, prefix, segments.__getitem__) for op in ops]

        def request(texts=texts):
            cur = state["g"]
            for front, text, params, _, _ in texts:
                cur = apply_write(b, cur, front, text, params)
            state["g"] = commit(b, cur, store)

        rec = b.run_op("write", f"w-{r}", {"ops": ops}, request)
        requests.append(rec)
        for j, (_, _, _, read, want) in enumerate(texts):
            op_id = f"r-{r}-{j}"

            def read_back(read=read, op_id=op_id):
                with b.tr.span("sparql.compile"):
                    df = sparql(state["g"], read)
                return {"main": b.collect(df, op_id)}

            reads.append(b.run_op("read_after_write", op_id, {"expect": want}, read_back))
    b.close_window(start)
    return {"ingest_counts": (expect, counts), "requests": requests, "reads": reads,
            "build_s": ingest_s, "inv_s": 0.0, "warm_s": warm, "ingest_ops": ["ingest"]}
