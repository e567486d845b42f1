"""Output checks. Each op attempt passes or fails with a reason; a failed
check counts against the run exactly like an exception or a timeout.

- fe_panel: OLS and one-way FE coefficients and the clustered SEs match a
  NumPy reference on the same panel; two-way FE and Poisson FE recover
  the planted coefficients; the distributed regime matches the driver
  regime on the small panel.
- panel prep ops: row and group counts the generator knows.
- registry ops: the warm-pass rows equal the registry's own DuckDB oracle
  SQL on the same parquet files (rows-only queries get invariants), and
  every later pass reproduces the warm pass's row count and fingerprint.
"""
import datetime
import decimal
import math
import os

import numpy as np
import pyarrow.parquet as pq

import gen

BETA_TOL = 0.05          # planted-coefficient tolerance, main panel
BETA_TOL_SMALL = 0.15    # the same on the small panel
REF_RTOL = 1e-6          # NumPy reference vs graft
REGIME_TOL = 1e-8        # driver regime vs distributed regime


def close(a, b, rtol):
    return len(a) == len(b) and all(abs(x - y) <= rtol * max(1.0, abs(y)) for x, y in zip(a, b))


class Panel:
    """NumPy references on the generated panel, computed once per run."""

    def __init__(self, path):
        t = pq.read_table(path)
        self.cols = {k: t.column(k).to_numpy() for k in t.column_names}
        self.n = len(self.cols["y"])
        self._cache = {}

    def demean(self, v, key):
        g = self.cols[key]
        cnt = np.bincount(g)
        return v - (np.bincount(g, weights=v) / np.maximum(cnt, 1))[g]

    def ols(self):
        c = self.cols
        x = np.column_stack([np.ones(self.n), c["x1"], c["x2"]])
        return np.linalg.lstsq(x, c["y"], rcond=None)[0]

    def oneway(self):
        if "oneway" not in self._cache:
            c = self.cols
            x = np.column_stack([self.demean(c["x1"], "worker"), self.demean(c["x2"], "worker")])
            y = self.demean(c["y"], "worker")
            b = np.linalg.lstsq(x, y, rcond=None)[0]
            self._cache["oneway"] = (x, y, b)
        return self._cache["oneway"]

    def se_clustered(self, key):
        x, y, b = self.oneway()
        u = y - x @ b
        g = self.cols[key]
        scores = np.column_stack([np.bincount(g, weights=x[:, j] * u) for j in range(x.shape[1])])
        bread = np.linalg.inv(x.T @ x)
        return np.sqrt(np.diag(bread @ (scores.T @ scores) @ bread))


def check_fe(op, out, ctx):
    p = ctx["panel"]()
    if op == "ols_nofe":
        ok = close(out["coef"], list(p.ols()), REF_RTOL)
        return ok, f"OLS coef {out['coef']} vs NumPy {list(p.ols())}"
    if op == "fe_oneway":
        ref = list(p.oneway()[2])
        return close(out["coef"], ref, REF_RTOL), f"one-way FE coef {out['coef']} vs NumPy {ref}"
    if op == "fe_se_clustered":
        ref = list(p.se_clustered("firm"))
        return close(out["se"], ref, REF_RTOL), f"clustered SE {out['se']} vs NumPy {ref}"
    if op == "fe_twoway_driver":
        return all(abs(b - t) < BETA_TOL for b, t in zip(out["coef"], gen.BETA)), \
            f"two-way FE coef {out['coef']} vs planted {gen.BETA} (tol {BETA_TOL})"
    if op == "fe_twoway_distributed":
        ref = ctx["setup_facts"]["small_driver_coef"]
        ok = close(out["coef"], ref, REGIME_TOL) and all(
            abs(b - t) < BETA_TOL_SMALL for b, t in zip(out["coef"], gen.BETA))
        return ok, f"distributed coef {out['coef']} vs driver regime {ref} (tol {REGIME_TOL})"
    if op == "poisson_fe":
        ok = out["converged"] and all(abs(b - t) < BETA_TOL for b, t in zip(out["coef"], gen.BETA_POIS))
        return ok, f"Poisson FE coef {out['coef']} converged={out['converged']} vs planted {gen.BETA_POIS}"
    return None


def check_prep(op, out, ctx):
    f = ctx["facts"]["panel"]
    n, w = f["rows"], f["workers"]
    if op == "grouped_aggregate":
        ok = out["rows"] == f["firm_year_cells"] and out["n_total"] == n
        return ok, f"aggregate rows {out['rows']} / total {out['n_total']} vs cells {f['firm_year_cells']} / {n}"
    if op == "grouped_transform":
        ok = out["rows"] == n and abs(out["dev_sum"]) <= 1e-9 * (out["abs_mean_sum"] + n)
        return ok, f"transform rows {out['rows']} vs {n}, sum of deviations {out['dev_sum']}"
    if op == "dummies":
        cols = ctx["panel"]().cols
        want = [int((cols[c.rsplit("_", 1)[0]] == int(c.rsplit("_", 1)[1])).sum()) for c in out["added"]]
        ok = (len(out["added"]) == f["regions_used"] + f["sectors_used"] - 1
              and out["sums"] == want and out["rows"] == n)
        return ok, f"dummies {out['added']} sums {out['sums']} vs {want}"
    if op == "lags":
        ok = out["rows"] == n and out["missing"] == [w, 2 * w, w]
        return ok, f"lags rows {out['rows']} missing {out['missing']} vs {[w, 2 * w, w]}"
    return None


def norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return v if math.isfinite(v) else str(v)
    if isinstance(v, int):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return str(v)


def sort_key(row):
    return tuple((x is None, type(x).__name__, x if x is not None else 0) for x in row)


def compare_rows(got, want):
    """Exact multiset equality of rows (ints, floats, strings compared by
    value and class, like the repo's oracle check)."""
    g = sorted((tuple(norm(x) for x in r) for r in got), key=sort_key)
    w = sorted((tuple(norm(x) for x in r) for r in want), key=sort_key)
    if len(g) != len(w):
        return f"{len(g)} rows vs oracle {len(w)}"
    for a, b in zip(g, w):
        if a != b or [type(x) for x in a] != [type(x) for x in b]:
            return f"first differing row {a} vs oracle {b}"
    return None


def oracle_rows(sql, data_dir):
    import duckdb
    con = duckdb.connect()
    for f in os.listdir(data_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(data_dir, f)}')")
    return con.execute(sql).fetchall()


def check_registry_warm(op, out, ctx):
    """The warm pass's rows against the oracle, or against invariants for
    the rows-only queries."""
    sql = ctx["oracle_sql"].get(op)
    if sql:
        err = compare_rows(out["data"], oracle_rows(sql, ctx["data_dir"]))
        return err is None, f"{op} vs DuckDB oracle: {err}"
    docs = ctx["facts"]["docs"]["documents"]
    cols = out["columns"]
    ok = out["rows"] == docs and all(r[cols.index("roundtrip_ok")] for r in out["data"])
    if op == "q71_bpe_tokenize":
        text = ctx["texts"]()
        ok = ok and all(r[cols.index("n_chars")] == len(text[r[0]]) for r in out["data"])
    return ok, f"{op}: {out['rows']} rows vs {docs} documents, every row must round-trip"


def check_runs(run, facts, data_dir):
    """Mark each op attempt ok or failed; returns (attempted, failures)."""
    cache = {}

    def panel():
        if "p" not in cache:
            cache["p"] = Panel(os.path.join(data_dir, "panel.parquet"))
        return cache["p"]

    def texts():
        t = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pydict()
        return dict(zip(t["doc_id"], t["text"]))

    ctx = dict(panel=panel, texts=texts, facts=facts, data_dir=data_dir,
               setup_facts=run["setup_facts"], oracle_sql=run["oracle_sql"])
    warm = {r["op"]: r for r in run["op_runs"] if r["pass"] == 0}
    warm_ok = {}
    failures = []
    for r in run["op_runs"]:
        op, out = r["op"], r["outcome"]
        if r["error"]:
            failures.append((r["pass"], op, r["error"]))
            continue
        if op.startswith("q") and op[1].isdigit():
            if r["pass"] == 0:
                ok, why = check_registry_warm(op, out, ctx)
                warm_ok[op] = ok
            else:
                w = warm[op]["outcome"]
                ok = warm_ok.get(op, False) and (out["rows"], out["fingerprint"]) == (w["rows"], w["fingerprint"])
                why = f"{op} pass {r['pass']} differs from the checked warm pass"
        else:
            ok, why = check_fe(op, out, ctx) or check_prep(op, out, ctx) or (False, f"no check for {op}")
        if not ok:
            failures.append((r["pass"], op, why))
    return len(run["op_runs"]), failures
