"""One benchmark session: a fresh process that sets the engine up and then
runs one workload.

Usage: python3 perfbench/worker.py SPEC.json RESULT.json

One client thread drives the workload in a closed loop: it sends the next
operation only when the previous one has returned. Before every operation,
outside its timed region, the session releases Spark's SQL cache and the
library's registered checkpoints and caches (the cold protocol of bench.py),
so no operation reads an earlier one's persisted work. Correctness checks
also run outside the timed regions, after the operation they check.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import json
import os
import pickle
import random
import re
import sys
import time
import traceback

from layers import Tracer, plan_seconds, spark_metrics

ROOT = os.environ["PERFBENCH_ROOT"]

# The catalog queries of query_mix: one per cost family of the 47-query
# catalog mix (see rationale.json). At this input size fixed per-query cost
# dominates all of them.
MIX = [
    "tpm",            # relational/omics: join chain + per-sample windows
    "translate_dna",  # scan-stage kernel over a one-split file (_spread)
    "cms_counts",     # cheap-scan aggregate
    "pagerank",       # iterative graph loop: persists, Python workers
    "minhash_dedup",  # eager localCheckpoints (operators._ckpt)
    "lsh_ann",        # ANN access path
]
MIN_WARM = 3  # warm passes a session runs at least; wall_s is their median
LOOKUP_TOP_N = 5
LOOKUP_SAMPLES = 1  # samples looked up after each load


def setup(spec: dict):
    """Imports, session.get_spark and one trivial action: engine ready."""
    from glamr_omics_pipelines_spark.session import get_spark
    import __spark_entry__  # noqa: F401
    from glamr_omics_pipelines_spark.pipelines import warehouse_build  # noqa: F401

    confs = {"spark.ui.showConsoleProgress": "false"}
    if spec["trace"]:
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + spec["event_dir"],
                      "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_confs=confs)
    get_spark_s = time.perf_counter() - t0
    spark.range(1).collect()
    return spark, {"ready_ts": time.time(), "get_spark_s": get_spark_s}


def release(spark) -> None:
    from glamr_omics_pipelines_spark.operators import _cache, _ckpt
    spark.catalog.clearCache()
    _ckpt.release_checkpoints()
    _cache.release_caches()


class Client:
    """The closed-loop client: times operations and records them."""

    def __init__(self, spark, tracer: Tracer | None):
        self.spark, self.tracer = spark, tracer
        self.ops: list[dict] = []
        self.passes: list[dict] = []

    def tag(self, op_id: str | None) -> None:
        """Attribute the spans and Spark jobs that follow to ``op_id``;
        None sends them to the untimed '_check' group."""
        if self.tracer:
            self.tracer.op = op_id
            self.spark.sparkContext.setJobGroup(op_id or "_check", "perfbench")

    def run(self, pass_no: int, kind: str, name: str, build, act) -> dict:
        """Time ``act(build())`` as one operation. ``build`` returns a
        DataFrame (or None), ``act`` runs it; the record keeps the result
        under 'result' for the caller's check."""
        release(self.spark)
        op_id = f"p{pass_no}:{kind}:{name}#{len(self.ops)}"
        rec = {"op": op_id, "pass": pass_no, "kind": kind, "name": name}
        self.tag(op_id)
        t0 = time.perf_counter()
        try:
            df = build()
            t1 = time.perf_counter()
            result = act(df)
            t2 = time.perf_counter()
        except Exception as e:  # a raising operation counts as failed
            rec.update(wall_s=time.perf_counter() - t0,
                       error=f"{type(e).__name__}: {e}"[:400],
                       traceback=traceback.format_exc()[-4000:])
        else:
            rec.update(wall_s=t2 - t0, build_s=t1 - t0, result=result)
            if self.tracer and df is not None:
                rec["plan_s"] = plan_seconds(df)
        self.tag(None)
        self.ops.append(rec)
        return rec

    def close_pass(self, pass_no: int, cold: bool) -> None:
        wall = sum(o["wall_s"] for o in self.ops if o["pass"] == pass_no
                   and o["kind"] != "noop")
        self.passes.append({"pass": pass_no, "cold": cold, "wall_s": wall})

    def warm_passes(self, seconds: float, one_pass, first: int, last: int):
        """Run warm passes first..last: at least MIN_WARM of them (all, if
        there are fewer), then more while the next one, at the length of
        the previous one, still ends within ``seconds``."""
        t0 = time.perf_counter()
        for p in range(first, last + 1):
            one_pass(p)
            if (p - first + 1 >= MIN_WARM and time.perf_counter() - t0
                    + self.passes[-1]["wall_s"] > seconds):
                break


def _load_check_tool():
    spec = importlib.util.spec_from_file_location(
        "check_tool", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle(name: str, sql: str, spec: dict, tables: list[str]):
    """The query's DuckDB oracle result, computed once per input set (the
    cache directory is named after the inputs' digest) and oracle text."""
    digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(spec["oracle_cache"], f"{name}-{digest}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    import duckdb
    tmp = os.path.join(spec["work"], "duckdb_tmp")
    con = duckdb.connect(config={"memory_limit": "2GB", "temp_directory": tmp,
                                 "threads": str(spec["nproc"])})
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{spec['data']}/{t}.parquet'")
        out = con.sql(sql).df()
    finally:
        con.close()
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out


def query_mix(spark, spec: dict, client: Client) -> None:
    import __spark_entry__ as entry
    qs, oracles = entry.queries(), entry.oracle_sql()

    def one_pass(p: int) -> None:
        order = list(MIX)
        random.Random(spec["seed"] * 1009 + p).shuffle(order)
        for name in order:
            client.run(p, "query", name, lambda: qs[name](spark, spec["data"]),
                       lambda df: (df.collect(), df.schema))
        client.close_pass(p, cold=p == 0)

    one_pass(0)
    client.warm_passes(spec["seconds"], one_pass, 1, 1000)

    check = _load_check_tool()
    first: dict[str, list] = {}  # query -> sorted rows of its checked run
    for rec in client.ops:
        if "result" not in rec:
            continue
        rows, schema = rec.pop("result")
        rec["rows"] = len(rows)
        key = sorted(map(repr, rows))
        if first.get(rec["name"]) == key:
            continue  # identical to a result that matched the oracle
        got = spark.createDataFrame(rows, schema).toPandas()
        want = _oracle(rec["name"], oracles[rec["name"]], spec, check.TABLES)
        problems = check.compare(rec["name"], got, want)
        if problems:
            rec["error"] = "oracle mismatch: " + "; ".join(problems)[:400]
        else:
            first.setdefault(rec["name"], key)


def _partition_values(table_dir: str, key: str) -> set[str]:
    return {os.path.basename(p)[len(key) + 1:]
            for p in glob.glob(os.path.join(table_dir, f"{key}=*"))}


def _ledger_rows(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _data_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def _same_rows(a: list, b: list) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or abs(x - y) > 1e-9 * max(1.0, abs(y)):
                    return False
            elif x != y:
                return False
    return True


def _reference_lookups(batch: dict) -> dict:
    """The two lookups of every sample of ``batch``, computed in plain
    Python from the batch's input files, without the engine or the
    warehouse: the bracken species rows merge_bracken keeps (refseq rows of
    GTDB domains dropped, rel_abund per sample and database) and the TPM of
    tpm_chain (target length = index length - 2)."""
    with open(batch["frames"]) as fh:
        rows = json.load(fh)
    lineage = {t["tax_id"]: t["std_lineage"] for t in rows["tax_info"]}
    species: dict[tuple, list] = {}
    for path in glob.glob(batch["bracken_glob"]):
        sample = os.path.basename(os.path.dirname(path))
        db = os.path.basename(path)[len("bracken_"):-len(".tsv")]
        with open(path) as fh:
            for line in fh:
                _, cws, _, rank, tax_id, _ = line.rstrip("\n").split("\t")
                lin = lineage.get(int(tax_id))
                if rank != "S" or (db == "refseq" and (
                        lin is None or re.match(r"^[kd]__(Archaea|Bacteria)", lin))):
                    continue
                species.setdefault((sample, db), []).append((int(tax_id), int(cws)))
    top: dict[str, list] = {}
    for (sample, db), taxa in species.items():
        total = sum(c for _, c in taxa)
        top.setdefault(sample, []).extend((db, t, c / total) for t, c in taxa)
    top = {s: sorted(v, key=lambda r: (-r[2], r[0], r[1]))[:LOOKUP_TOP_N]
           for s, v in top.items()}
    length = {r["id"]: r["length"] - 2 for r in rows["uniref_index"]}
    target_len = {r["uniref100"]: length[r["id"]] for r in rows["uniref_lookup"]}
    rates: dict[str, list] = {}
    for m in rows["read_mapping"]:
        rates.setdefault(m["sample"], []).append(
            m["num_seqs_aligned"] / target_len[m["target"]])
    tpm = {s: [(len(r), sum(1e6 * x / sum(r) for x in r))]
           for s, r in rates.items()}
    return {"top_taxa": top, "tpm2_sum": tpm}


def warehouse_ingest(spark, spec: dict, client: Client) -> None:
    from pyspark.sql import functions as F
    from glamr_omics_pipelines_spark.pipelines import warehouse_build

    root, batches = spec["warehouse"], spec["batches"]
    keyed = {"bracken_species": "sample", "gene_abundance": "sample",
             "read_count": "sample", "tpm2": "sample", "tax_info": "tax_id"}
    offered: set[str] = set()
    rnd = random.Random(spec["seed"])

    def frames_of(batch: dict) -> dict:
        with open(batch["frames"]) as fh:
            return {k: spark.createDataFrame(v) for k, v in json.load(fh).items()}

    def fail(rec: dict, why: str) -> None:
        rec.setdefault("error", why)

    def load(p: int, batch: dict, kind: str) -> None:
        frames = frames_of(batch)
        n_load = len(_ledger_rows(os.path.join(root, "_load_ledger.jsonl")))
        n_run = len(_ledger_rows(os.path.join(root, "_run_ledger.jsonl")))
        before = _data_files(root) if client.tracer else {}
        rec = client.run(p, kind, "build_warehouse", lambda: None,
                         lambda _: warehouse_build.build_warehouse(
                             spark, root, batch["bracken_glob"],
                             batch["rpkm_glob"], frames))
        rec.pop("result", None)
        appends = _ledger_rows(os.path.join(root, "_load_ledger.jsonl"))[n_load:]
        rec["new_keys"] = {r["table"]: r["new_keys"] for r in appends
                           if "new_keys" in r}
        offered.update(batch["samples"])
        if client.tracer:
            stages = _ledger_rows(os.path.join(root, "_run_ledger.jsonl"))[n_run:]
            rec["dag_stage_s"] = {r["stage"]: r.get("seconds", 0.0)
                                  for r in stages}
            after = _data_files(root)
            new = [f for f in after if after[f] != before.get(f)]
            rec["files_written"] = len(new)
            rec["bytes_written"] = sum(after[f] for f in new)
            rec["offered_keys"] = {t: (batch["n_tax"] if k == "tax_id"
                                       else len(batch["samples"]))
                                   for t, k in keyed.items()}
        for table, key in keyed.items():
            want = (batch["n_tax"] if key == "tax_id" else len(offered))
            got = len(_partition_values(os.path.join(root, table), key))
            if got != want:
                fail(rec, f"{table}: {got} distinct {key} loaded, {want} offered")
        if kind == "noop" and any(rec["new_keys"].values()):
            fail(rec, f"re-run added keys: {rec['new_keys']}")
        lookups(p, batch)
        if kind != "noop":
            client.close_pass(p, cold=p == 0)

    def lookups(p: int, batch: dict) -> None:
        want = _reference_lookups(batch)
        for sample in rnd.sample(batch["samples"], LOOKUP_SAMPLES):
            def top_taxa(df, sample=sample):
                return (df.filter(F.col("sample") == sample)
                        .orderBy(F.desc("rel_abund"), "database", "tax_id")
                        .limit(LOOKUP_TOP_N)
                        .select("database", "tax_id", "rel_abund"))

            def tpm2_sum(df, sample=sample):
                return (df.filter(F.col("sample") == sample)
                        .agg(F.count(F.lit(1)).alias("n"),
                             F.sum("tpm").alias("tpm")))

            for name, table, expr in (("top_taxa", "bracken_species", top_taxa),
                                      ("tpm2_sum", "tpm2", tpm2_sum)):
                rec = client.run(p, "lookup", name,
                                 lambda: expr(spark.read.parquet(
                                     os.path.join(root, table))),
                                 lambda df: [tuple(r) for r in df.collect()])
                if "result" in rec:
                    got = rec.pop("result")
                    rec["rows"] = len(got)
                    if not _same_rows(got, want[name][sample]):
                        fail(rec, f"{name}({sample}) = {got}, the batch's "
                                  f"inputs give {want[name][sample]}")

    load(0, batches[0], "load")
    client.warm_passes(spec["seconds"], lambda p: load(p, batches[p], "load"),
                       1, len(batches) - 1)
    n = len(client.passes)
    load(n, batches[n - 1], "noop")  # re-run the last batch: adds no keys


WORKLOADS = {"query_mix": query_mix, "warehouse_ingest": warehouse_ingest}


def main() -> None:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    spark, res = setup(spec)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer() if spec["trace"] else None
    if tracer:
        tracer.install()
    client = Client(spark, tracer)
    WORKLOADS[spec["workload"]](spark, spec, client)
    for rec in client.ops:
        rec.pop("result", None)
    res.update(ops=client.ops, passes=client.passes)
    if tracer:
        spark.stop()  # closes the event log
        tracer.uninstall()
        res["spans"] = tracer.by_op()
        res["spark"] = spark_metrics(spec["event_dir"])
    with open(sys.argv[2], "w") as fh:
        json.dump(res, fh)
    # An untraced session leaves the engine running: the benchmark kills the
    # session's process tree, which is quicker than an orderly stop.
    os._exit(0)


if __name__ == "__main__":
    main()
