"""Metric arithmetic of the benchmark: percentiles, per-layer sums and
the order-independent output fingerprint. Pure functions, so the unit
tests in tests/ cover them without a JVM."""
import math
import statistics

MB = 1 << 20
TAIL_ABOVE = 10
MODULES = ["functions", "ml", "operators", "preprocess", "similarity",
           "streaming", "text"]


def tail_percentile(n):
    """The highest whole percentile p of n samples that still has at
    least TAIL_ABOVE samples above it (nearest-rank definition)."""
    if n <= TAIL_ABOVE:
        raise ValueError(f"{n} samples leave no tail of {TAIL_ABOVE}")
    return (100 * (n - TAIL_ABOVE)) // n


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s) / 100) - 1)]


def busy_frac(task_s, wall_s, cores):
    """Executor task seconds over the seconds the cores were available."""
    return task_s / (wall_s * cores)


def failed_frac(failed, attempted):
    return failed / attempted


def warm(raw):
    return [e for e in raw["executions"] if e["phase"] == "warm"]


def warm_walls(raw):
    return [e["wall_s"] for e in warm(raw)]


def end_to_end(raw):
    """The end-to-end metrics of one untraced run from its raw samples."""
    passes = {}
    for e in warm(raw):
        passes[e["pass"]] = passes.get(e["pass"], 0.0) + e["wall_s"]
    per_query = {}
    for e in warm(raw):
        per_query.setdefault(e["query"], []).append(e["wall_s"])
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "pass_s": statistics.median(passes.values()),
        "query_geomean_s": statistics.geometric_mean(
            statistics.median(v) for v in per_query.values()),
        "retained_heap_mb": raw["heap_mb"],
    }


def query_tail(walls):
    """(p, value): the warm query time at the highest percentile that
    still has TAIL_ABOVE samples above it, or None with too few samples."""
    if len(walls) <= TAIL_ABOVE:
        return None
    p = tail_percentile(len(walls))
    return p, percentile(walls, p)


def per_layer(raw, modules):
    """The per-layer metrics of one traced run. `modules` maps each query
    to the engine module whose operator it calls; per-pass figures are
    means over the traced passes."""
    traced = [e for e in raw["executions"] if e["traced"]]
    n = len({e["pass"] for e in traced})

    def total(key, rows=traced):
        return sum(e["layers"].get(key, 0.0) for e in rows)

    def per_pass(key, rows=traced):
        return total(key, rows) / n

    wall = sum(e["wall_s"] for e in traced)
    build = sum(e["build_s"] for e in traced)
    out = {}
    for m in MODULES:
        rows = [e for e in traced if modules[e["query"]] == m]
        out[f"{m}.build_s"] = sum(e["build_s"] for e in rows) / n
        out[f"{m}.exec_s"] = sum(e["exec_s"] for e in rows) / n
        out[f"{m}.jobs"] = (total("jobs_build", rows)
                            + total("jobs_exec", rows)) / n
    untraced = {}
    traced_walls = {}
    for e in warm(raw):
        d = traced_walls if e["traced"] else untraced
        d[e["pass"]] = d.get(e["pass"], 0.0) + e["wall_s"]
    setup_cg = raw["setup_codegen"]
    out.update({
        "build.s": build / n,
        "build.jobs": per_pass("jobs_build"),
        "build.share": build / wall,
        "catalyst.analysis_s": per_pass("analysis_s"),
        "catalyst.optimizer_s": per_pass("optimizer_s"),
        "catalyst.planning_s": per_pass("planning_s"),
        "catalyst.executions": per_pass("executions"),
        "codegen.classes_warm": per_pass("codegen_classes"),
        "codegen.compile_warm_s": per_pass("codegen_compile_s"),
        "codegen.classes_setup": float(setup_cg["classes"]),
        "codegen.compile_setup_s": setup_cg["compile_s"],
        "codegen.bytecode_kb": per_pass("codegen_bytes") / 1024,
        "exec.jobs": per_pass("jobs_build") + per_pass("jobs_exec"),
        "exec.stages": per_pass("stages"),
        "exec.tasks": per_pass("tasks"),
        "exec.single_task_stages": per_pass("single_task_stages"),
        "exec.task_s": per_pass("task_s"),
        "exec.cpu_s": per_pass("cpu_s"),
        "exec.busy_frac": busy_frac(total("task_s"), wall, raw["cores"]),
        "exec.input_rows": per_pass("input_rows"),
        "exec.input_mb": per_pass("input_bytes") / MB,
        "shuffle.write_mb": per_pass("shuffle_write_bytes") / MB,
        "shuffle.read_mb": per_pass("shuffle_read_bytes") / MB,
        "shuffle.records": per_pass("shuffle_records"),
        "shuffle.spill_mb": per_pass("spill_bytes") / MB,
        "shuffle.fetch_wait_s": per_pass("fetch_wait_s"),
        "streaming.batches": per_pass("batches"),
        "streaming.batch_s": per_pass("batch_s"),
        "streaming.state_rows": per_pass("state_rows"),
        "streaming.state_commit_s": per_pass("state_commit_s"),
        "mem.gc_s": per_pass("gc_s"),
        "mem.task_gc_s": per_pass("task_gc_s"),
        "mem.code_cache_mb": raw["code_cache_mb"],
        "mem.storage_peak_mb": max(e["layers"].get("storage_peak_bytes", 0.0)
                                   for e in traced) / MB,
        "mem.leaked_persists": per_pass("leaked_persists"),
        "trace.overhead_frac": (statistics.median(traced_walls.values())
                                / statistics.median(untraced.values()) - 1),
    })
    return out


_FLOATS = ("DOUBLE", "FLOAT", "REAL")


def _is_float(t):
    return t in _FLOATS or t.startswith("DECIMAL")


def _text(name, dtype):
    """SQL text of one column value. Floats keep 10 significant digits:
    the DuckDB oracles cast doubles to DECIMAL a little differently from
    Spark, which can move an exact sum's last binary digit."""
    c = '"' + name.replace('"', '""') + '"'
    t = dtype.upper()
    if t.endswith("[]"):
        if _is_float(t[:-2]):
            return (f"array_to_string(list_transform({c}, "
                    f"x -> printf('%.10g', CAST(x AS DOUBLE))), ',')")
    elif _is_float(t):
        return f"printf('%.10g', CAST({c} AS DOUBLE))"
    return f"CAST({c} AS VARCHAR)"


def fingerprint(con, relation):
    """Row count plus an order-independent hash over all columns of a
    DuckDB relation: each row's columns, in case-insensitive name order,
    are joined as text and hashed, and the row hashes are summed modulo
    2^64. Returns "rows:hash"."""
    schema = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    cols = sorted(schema, key=lambda c: c[0].lower())
    row = " || chr(31) || ".join(
        f"coalesce({_text(c[0], c[1])}, 'NULL')" for c in cols)
    n, h = con.execute(
        f"SELECT count(*), CAST(coalesce(sum(hash({row})::HUGEINT), 0) "
        f"% 18446744073709551616 AS UBIGINT) FROM {relation}").fetchone()
    return f"{n}:{h:016x}"
