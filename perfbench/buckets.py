"""Call-site-to-layer mapping for the traced run.

Spark records, for every SQL execution and job, the stack of user frames
that issued it (the "call site", innermost frame first). A job run by an
execution inherits the execution's call site, because Spark runs broadcast
and adaptive stages from its own threads, whose stacks name no user frame.

ETL spans go to the `graft.etl` function that issued them; registry spans to
the shared-stage rebuild, the plan-extension keys, or the operator module
that issued them (the key's own module when the key's function only builds a
plan and the benchmark's noop write runs it).
"""

import re

ETL_BUCKETS = ["etl.run", "etl.writeParquet", "etl.writeReportTables",
               "etl.ReportModel", "etl.main"]
MODULES = ["SalesAnalytics", "RelationalOps", "EventOps", "StatOps", "TextOps",
           "DedupOps", "EmbeddingOps", "PipelineOps", "QualityOps", "GraphOps",
           "LayoutOps"]
REGISTRY_BUCKETS = (["registry.stages", "registry.plans"]
                    + [f"registry.{m}" for m in MODULES] + ["registry.other"])
BUCKET_METRICS = [("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                  ("exec_cpu_s", "s"), ("shuffle_write_bytes", "bytes")]
WHOLE_RUN_METRICS = ["etl.driver_s", "session.build_s", "spark.gc_s",
                     "sources.input_bytes", "sources.output_bytes"] + [
    f"traced.{t}_{c}_s" for t in ("setup", "first_pass", "pass") for c in ("wall", "cpu")]
# Bucket metrics that read 0 on every workload the benchmark runs, so they
# are not reported: SalesPipeline.run only builds plans (its time is the
# planning wall time), and the RelationalOps key shuffles nothing.
NEVER_NONZERO = {"etl.run.jobs", "etl.run.tasks", "etl.run.exec_cpu_s",
                 "etl.run.shuffle_write_bytes", "registry.RelationalOps.shuffle_write_bytes"}

# (class, method) of the etl functions that own a span; the innermost frame
# that matches decides. A method of None matches the whole class.
ETL_RULES = [
    ("graft.etl.SalesPipeline$", "writeParquet", "etl.writeParquet"),
    ("graft.etl.SalesPipeline$", "writeReportTables", "etl.writeReportTables"),
    ("graft.etl.ReportModel$", None, "etl.ReportModel"),
    ("graft.etl.SalesPipeline$", "run", "etl.run"),
    ("graft.etl.ProdutosEtl$", None, "etl.run"),
    ("graft.etl.VendasEtl$", None, "etl.run"),
    ("graft.etl.EmpregadosEtl$", None, "etl.run"),
    ("graft.etl.Cleaning$", None, "etl.run"),
    ("graft.etl.RunSalesPipeline$", "main", "etl.main"),
]
# frames that build a shared, pinned stage (the memo builds it on first use)
STAGE_FRAMES = [
    ("graft.operators.DedupOps$", "materializeSubstrate"),
    ("graft.operators.DedupOps$", "materializePinnedStages"),
    ("graft.operators.DedupOps$", "memoStage"),
    ("graft.operators.PipelineOps$", "materializeGramSubstrate"),
    ("graft.operators.OpCaches$", "memoPinned"),
]
PLAN_KEY_PREFIXES = ("as", "rj")



def layer_metric_names():
    """The per-layer metrics a traced run reports, in order."""
    names = [f"{b}.{m}" for b in ETL_BUCKETS + REGISTRY_BUCKETS for m, _ in BUCKET_METRICS]
    return [n for n in names if n not in NEVER_NONZERO] + WHOLE_RUN_METRICS


_FRAME = re.compile(r"^\s*([\w.$]+)\.([\w$]+)\(")


def frames(call_site):
    """(class, method) per frame, innermost first, lambdas named after the
    method that encloses them."""
    out = []
    for line in call_site.splitlines():
        m = _FRAME.match(line)
        if not m:
            continue
        # $anonfun$writeReportTables$1$adapted -> writeReportTables
        meth = re.sub(r"^\$anonfun\$", "", m.group(2)).split("$")[0]
        out.append((m.group(1), meth))
    return out


def etl_bucket(call_site):
    for cls, meth in frames(call_site):
        for rcls, rmeth, bucket in ETL_RULES:
            if cls == rcls and (rmeth is None or meth == rmeth):
                return bucket
    return "etl.main"


def registry_bucket(scope_kind, key, call_site, key_modules):
    """Bucket of a span issued inside a registry scope: a stage rebuild
    (`scope_kind` "stage") or the run of registry key `key` ("key")."""
    fs = frames(call_site)
    if scope_kind == "stage" or any(f in STAGE_FRAMES for f in fs):
        return "registry.stages"
    if key.startswith(PLAN_KEY_PREFIXES):
        return "registry.plans"
    for cls, _ in fs:
        m = re.match(r"^graft\.operators\.(\w+)\$$", cls)
        if m and m.group(1) in MODULES:
            return f"registry.{m.group(1)}"
    module = key_modules.get(key)
    return f"registry.{module}" if module in MODULES else "registry.other"


def key_modules(spark_entry_source):
    """Registry key -> operator module, read from the `queries` map of
    SparkEntry.scala: the first module an entry names."""
    body = spark_entry_source.split("def queries", 1)[-1].split("def oracleSql", 1)[0]
    out = {}
    for m in re.finditer(r'^\s*"(\w+)"\s*->(.*(?:\n(?!\s*")[^\n]*)?)', body, re.M):
        mod = re.search(r"\b([A-Z]\w*)\.\w+", m.group(2))
        if mod:
            out[m.group(1)] = mod.group(1)
    return out
