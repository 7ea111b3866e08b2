"""Independent goldens: DuckDB and numpy over the cached parquet.

Nothing here imports the package. ``compute`` reduces a set of parquet files
to one record per group (``"*"`` for the whole input, else each ``role``);
``check_result`` and ``check_rows`` compare the package's output with the
record. Counters must match exactly. Observed values of the approximate
kinds are checked within their documented tolerance: a quantile must lie
between the exact quantiles at ``q - 0.001`` and ``q + 0.001`` (the
engine's relative error 0.001, one rank of slack), means, deviations and
KL divergences within a relative 1e-9.
"""

from __future__ import annotations

import ast
import math

import numpy as np

ROLES = ("system", "user", "assistant", "tool")
TOOLS = tuple(f"tool_{i:02d}" for i in range(50))
QUANTILES = (0.25, 0.5, 0.75)
Q_ERR = 0.001
REL = 1e-9
ALL = "*"

# suite order of ``layers.north_star_suite`` -> (expectation_type, key)
SUITE = (
    ("expect_column_values_to_not_be_null", "text_null"),
    ("expect_column_values_to_not_be_null", "conv_null"),
    ("expect_compound_columns_to_be_unique", "unique"),
    ("expect_column_values_to_be_in_set", "in_set"),
    ("expect_column_mean_to_be_between", "mean"),
    ("expect_column_stdev_to_be_between", "stdev"),
    ("expect_column_quantile_values_to_be_between", "quantile"),
    ("expect_column_values_to_exist_in", "exist_in"),
    ("expect_column_kl_divergence_to_be_less_than", "kl"),
    ("expect_column_values_to_be_increasing", "increasing"),
)
AGG_KEYS = ("mean", "stdev", "quantile", "kl")


def _src(files: list[str]) -> str:
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def _kl(lens: np.ndarray, baseline: dict) -> float:
    edges = np.asarray(baseline["bins"], dtype=float)
    counts, _ = np.histogram(lens, bins=edges)
    below = int((lens < edges[0]).sum())
    above = int((lens > edges[-1]).sum())
    p = np.concatenate([[below], counts, [above]]).astype(float)
    if p.sum() == 0:
        return float("nan")
    p /= p.sum()
    q = np.concatenate([[baseline["tail_weights"][0]], baseline["weights"],
                        [baseline["tail_weights"][1]]])
    nz = p > 0
    if (q[nz] <= 0).any():
        return float("inf")
    return float(np.sum(p[nz] * np.log(p[nz] / q[nz])))


def _qbounds(values: np.ndarray) -> list[list[float]]:
    v = np.sort(values)
    n = len(v)
    out = []
    for q in QUANTILES:
        lo = max(0, math.floor((q - Q_ERR) * n) - 1)
        hi = min(n - 1, math.ceil((q + Q_ERR) * n))
        out.append([float(v[lo]), float(v[hi])])
    return out


def compute(files: list[str], baseline: dict, by_role: bool) -> dict:
    """{group: record} for the rows of ``files``."""
    import duckdb

    con = duckdb.connect()
    src = _src(files)
    g = "role" if by_role else f"'{ALL}'"
    part = "role, " if by_role else ""
    roles = ", ".join(f"'{r}'" for r in ROLES)
    tools = ", ".join(f"'{t}'" for t in TOOLS)
    rows = con.sql(f"""
        SELECT {g} AS g, count(*),
          count(*) FILTER (WHERE text IS NULL),
          count(*) FILTER (WHERE conv_id IS NULL),
          count(*) FILTER (WHERE role IS NULL),
          count(*) FILTER (WHERE role IS NOT NULL AND role NOT IN ({roles})),
          count(*) FILTER (WHERE tool IS NULL),
          count(*) FILTER (WHERE tool IS NOT NULL AND tool NOT IN ({tools})),
          avg(turn_idx), stddev_samp(turn_idx)
        FROM {src} GROUP BY 1""").fetchall()
    dups = dict(con.sql(f"""
        SELECT g, sum(c) FROM (
          SELECT {g} AS g, count(*) AS c FROM {src}
          GROUP BY {part}conv_id, turn_idx HAVING count(*) > 1)
        GROUP BY g""").fetchall())
    incs = dict(con.sql(f"""
        SELECT g, count(*) FILTER (WHERE bad) FROM (
          SELECT {g} AS g, turn_idx <= lag(turn_idx) OVER (
            PARTITION BY {part}conv_id ORDER BY turn_idx) AS bad
          FROM {src}) GROUP BY g""").fetchall())
    cols = con.sql(f"SELECT {g} AS g, turn_idx, length(text) FROM {src}"
                   ).fetchnumpy()
    con.close()
    gcol = np.asarray(cols["g"], dtype=object)
    ti = np.asarray(cols["turn_idx"], dtype=float)
    ln = cols[list(cols)[2]]
    lens = np.asarray(np.ma.filled(ln.astype(float), np.nan)
                      if np.ma.isMaskedArray(ln) else ln, dtype=float)
    out = {}
    for (key, n, text_null, conv_null, role_null, role_bad, tool_null,
         tool_bad, mean, stdev) in rows:
        sel = gcol == key
        glens = lens[sel]
        out[key] = {
            "n": n, "text_null": text_null, "conv_null": conv_null,
            "role_null": role_null, "role_bad": role_bad,
            "tool_null": tool_null, "tool_bad": tool_bad,
            "dup_rows": int(dups.get(key, 0) or 0),
            "inc_bad": int(incs.get(key, 0) or 0),
            "mean": mean, "stdev": stdev,
            "quantile": _qbounds(ti[sel]),
            "kl": _kl(glens[~np.isnan(glens)], baseline),
        }
    return out


def _mostly(nonnull: int, unexpected: int, mostly: float | None) -> bool:
    if mostly is None:
        return unexpected == 0
    return nonnull <= 0 or (nonnull - unexpected) / nonnull >= mostly


def expected(rec: dict, key: str) -> dict:
    """Counters, success and observed value the engine must report for one
    expectation of the suite on the rows summarised by ``rec``."""
    n = rec["n"]
    if key == "text_null":
        c = (n, 0, rec["text_null"])
        ok = _mostly(n, rec["text_null"], 0.99)
    elif key == "conv_null":
        c = (n, 0, rec["conv_null"])
        ok = rec["conv_null"] == 0
    elif key == "unique":
        c = (n, 0, rec["dup_rows"])
        ok = rec["dup_rows"] == 0
    elif key == "in_set":
        c = (n, rec["role_null"], rec["role_bad"])
        ok = _mostly(n - rec["role_null"], rec["role_bad"], 0.98)
    elif key == "exist_in":
        c = (n, rec["tool_null"], rec["tool_bad"])
        ok = _mostly(n - rec["tool_null"], rec["tool_bad"], 0.99)
    elif key == "increasing":
        c = (n, 0, rec["inc_bad"])
        ok = rec["inc_bad"] == 0
    elif key == "mean":
        c, ok = (n, 0, 0), 0.0 <= rec["mean"] <= 500.0
    elif key == "stdev":
        c, ok = (n, 0, 0), 0.0 <= rec["stdev"] <= 10_000.0
    elif key == "quantile":
        c, ok = (n, 0, 0), all(hi >= 0 for _, hi in rec["quantile"])
    else:  # kl
        c, ok = (n, 0, 0), rec["kl"] < 0.5
    return {"counts": c, "success": ok, "observed": rec.get(key)}


def _close(a: float, b: float) -> bool:
    if a is None or b is None:
        return a is b
    if math.isinf(a) or math.isinf(b):
        return a == b
    return abs(a - b) <= REL * max(1.0, abs(b))


def observed_ok(key: str, got, want) -> bool:
    if key in ("mean", "stdev", "kl"):
        return _close(float(got), want)
    if key == "quantile":
        vals = got["values"] if isinstance(got, dict) else got
        return len(vals) == len(want) and all(
            lo <= float(v) <= hi for v, (lo, hi) in zip(vals, want))
    return True


def check_result(result, rec: dict) -> list[str]:
    """Mismatches between a suite validation result and the golden record."""
    errs = []
    if len(result.results) != len(SUITE):
        return [f"{len(result.results)} results, expected {len(SUITE)}"]
    for evr, (etype, key) in zip(result.results, SUITE):
        want = expected(rec, key)
        got_type = evr.expectation_config.get("expectation_type")
        res = evr.result or {}
        if got_type != etype:
            errs.append(f"{key}: type {got_type}")
            continue
        if bool(evr.success) != want["success"]:
            errs.append(f"{key}: success {evr.success}")
        if key in AGG_KEYS:
            if not observed_ok(key, res.get("observed_value"), want["observed"]):
                errs.append(f"{key}: observed {res.get('observed_value')!r}")
            continue
        got = (res.get("element_count"), res.get("missing_count"),
               res.get("unexpected_count"))
        if got != want["counts"]:
            errs.append(f"{key}: counts {got} != {want['counts']}")
    return errs


def segment_expected(records: dict) -> dict:
    """{(segment, type): [(counts, success, key, observed), ...]} of the
    per-segment suite, which is the suite without ``exist_in``."""
    out: dict = {}
    for seg, rec in records.items():
        for etype, key in SUITE:
            if key == "exist_in":
                continue
            w = expected(rec, key)
            out.setdefault((seg, etype), []).append(
                (tuple(w["counts"]), w["success"], key, w["observed"]))
    return out


def check_rows(rows, records: dict) -> list[str]:
    """Mismatches between ``validate_by_group`` rows and golden records."""
    want = segment_expected(records)
    got: dict = {}
    for r in rows:
        got.setdefault((r["group"], r["expectation_type"]), []).append(r)
    errs = []
    if set(got) != set(want):
        return [f"segments/types differ: {sorted(set(got) ^ set(want))[:4]}"]
    for k, ws in want.items():
        gs = got[k]
        if len(gs) != len(ws):
            errs.append(f"{k}: {len(gs)} rows")
            continue
        gkeys = sorted(((r["element_count"], r["missing_count"],
                         r["unexpected_count"]), bool(r["success"]))
                       for r in gs)
        if gkeys != sorted((w[0], w[1]) for w in ws):
            errs.append(f"{k}: {gkeys}")
            continue
        key, obs = ws[0][2], ws[0][3]
        if key in AGG_KEYS:
            raw = gs[0]["observed_value"]
            val = ast.literal_eval(raw) if key == "quantile" else float(raw)
            if not observed_ok(key, val, obs):
                errs.append(f"{k}: observed {raw}")
    return errs


def merged_expected(per_partition: list[dict]) -> dict:
    """{(segment, type): (element, missing, unexpected, all_success)} of the
    checkpoint's merged view over the given per-partition records."""
    out: dict = {}
    for records in per_partition:
        for (seg, etype), ws in segment_expected(records).items():
            e, m, u, ok = out.get((seg, etype), (0, 0, 0, True))
            for counts, success, _, _ in ws:
                e, m, u = e + counts[0], m + counts[1], u + counts[2]
                ok = ok and success
            out[(seg, etype)] = (e, m, u, ok)
    return out


def check_merged(rows, want: dict) -> list[str]:
    got = {(r["segment"], r["expectation_type"]):
           (r["element_count"], r["missing_count"], r["unexpected_count"],
            bool(r["all_partitions_success"])) for r in rows}
    if len(got) != len(rows):
        return ["duplicate merged rows"]
    return [f"{k}: {got.get(k)} != {v}" for k, v in want.items()
            if got.get(k) != v] + [f"extra {k}" for k in got if k not in want]
