"""The benchmark workloads: set-up, the timed closed loop, and output checks.

Each workload runs one client (this process) in a closed loop: the next
operation starts when the previous one returns.  ``timed`` runs whole rounds
(a pass over every operator, or one request cycle) until ``seconds`` have
passed, at least one round.  Checks run after the timed phase and are never
timed.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from perfbench import datagen

CURATION_OPS = (
    "pipeline_corpus_curation",
    "x2_minhash_lsh_neardup",
    "x20_duplicate_spans",
    "x19_dedup_components",
    "x16_repetition_stats",
    "x9_chunk_documents",
    "x17_semdedup_fast",
    "x23_bm25_topk_fast",
    "x25_quantized_topk_fast",
    "x4_lsh_neighbor_pairs",
    "x3_ivf_kmeans_topk",
)


@dataclass
class OpResult:
    op: int
    name: str
    kind: str
    seconds: float
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float
    build_s: float = 0.0
    ok: bool = True
    rows_out: int = 0


@dataclass
class Workload:
    name: str
    data_dir: str
    seed: int
    size: str
    failures: list = field(default_factory=list)

    def generate(self) -> None: ...

    def setup_once(self, spark) -> float: ...

    def warm_up(self, spark) -> None:
        """Untimed work after the first set-up, on state later set-ups
        replace."""

    def timed(self, spark, seconds: float, tracer=None) -> list[OpResult]: ...

    def check(self, spark, results: list[OpResult]) -> None: ...

    def _fail(self, res: OpResult | None, why: str) -> None:
        if res is not None:
            res.ok = False
        self.failures.append(why)


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


class Curation(Workload):
    """The LLM-pipeline operators over a seeded corpus, in the same order
    every pass: the first pass of a session pays the JVM's and the Python
    workers' start-up costs, and a fixed order keeps those costs on the same
    operators from run to run.  Each result is collected to the driver as
    pandas (Arrow), the form a pipeline step hands on and the form the
    oracle check compares, so no operator runs twice."""

    tables = ("documents", "embeddings")

    def generate(self) -> None:
        datagen.write_corpus(self.data_dir, self.seed, datagen.CORPUS_SIZES[self.size])

    def _fns(self) -> dict:
        from r_e_hive__spark.queries import RETIRED, load_all
        from r_e_hive__spark.queries.fastpaths import FASTPATHS

        merged = {**load_all(), **RETIRED}
        return {n: FASTPATHS[n] if n in FASTPATHS else merged[n].spark_fn for n in CURATION_OPS}

    def setup_once(self, spark) -> float:
        from r_e_hive__spark.catalog import clear_table_cache, load_table

        clear_table_cache()
        t = time.perf_counter()
        for name in self.tables:
            load_table(spark, self.data_dir, name).count()
        return time.perf_counter() - t

    def timed(self, spark, seconds, tracer=None):
        fns = self._fns()
        out: list[OpResult] = []
        self.outputs: dict = {}
        t_end = time.perf_counter() + seconds
        while not out or time.perf_counter() < t_end:
            for name in CURATION_OPS:
                op = len(out)
                if tracer:
                    tracer.begin(op, name)
                w0, t0 = time.time(), time.perf_counter()
                pdf, why = None, ""
                try:
                    df = fns[name](spark, self.data_dir)
                    t1 = time.perf_counter()
                    if tracer:
                        tracer.span("queries.build", op, t0, t1, "op")
                        tracer.plan(df, op)
                    t2 = time.perf_counter()
                    pdf = df.toPandas()
                except Exception as e:  # an operator that raises is a failure
                    t1 = t2 = time.perf_counter()
                    why = f"{name}: {type(e).__name__}: {e}"
                t3 = time.perf_counter()
                w1 = time.time()
                if tracer:
                    tracer.span("sink", op, t2, t3, "op")
                    tracer.span("op", op, t0, t3, None)
                    tracer.end(op)
                r = OpResult(op, name, "query", t3 - t0, w0, w1, build_s=t1 - t0,
                             rows_out=0 if pdf is None else len(pdf))
                out.append(r)
                if why:
                    self._fail(r, why)
                else:
                    self.outputs.setdefault(name, pdf)
        return out

    def check(self, spark, results):
        """Every operator's first output against its DuckDB oracle; the
        fast-path twins against their exact twin's oracle."""
        from r_e_hive__spark.oracle.diff import duckdb_connection
        from r_e_hive__spark.queries import RETIRED, load_all
        from tools.bench_common import LLM_FAST

        merged = {**load_all(), **RETIRED}
        con = duckdb_connection(self.data_dir)
        try:
            for name, sp in self.outputs.items():
                try:
                    ok, why = _matches_oracle(name, sp, con, merged[LLM_FAST.get(name, name)].oracle)
                except Exception as e:
                    ok, why = False, f"{type(e).__name__}: {e}"
                if not ok:
                    for r in results:
                        if r.name == name:
                            self._fail(r, f"{name}: {why}")
        finally:
            con.close()


def _matches_oracle(name: str, sp, con, oracle: str) -> tuple[bool, str]:
    from r_e_hive__spark.oracle.diff import compare_frames

    if name == "x2_minhash_lsh_neardup":
        return _lsh_contract(sp, con, oracle)
    du = con.execute(oracle).fetchdf()
    if name in _TOPK_SHAPE:
        return _topk_close(sp, du, *_TOPK_SHAPE[name])
    d = compare_frames(name, sp, du)
    return d.ok, d.detail


def _lsh_contract(sp, con, oracle: str, sure: float = 0.95) -> tuple[bool, str]:
    """MinHash-LSH near-dup pairs checked against the operator's contract
    rather than for equality with the exact pair join: every emitted pair is
    an exact pair with its exact Jaccard (verification is exact), and no
    pair with Jaccard >= ``sure`` is missed (with 8 bands of 4 rows a pair
    at 0.95 escapes banding with probability ~1e-6).  Recall below that is
    probabilistic by design, and the generated corpus has pairs near the
    0.5 threshold."""
    exact_sql = oracle.replace("LIMIT 100", "")
    if exact_sql == oracle:
        return False, "oracle no longer ends in LIMIT 100"
    exact = {(int(a), int(b)): j for a, b, j in con.execute(exact_sql).fetchall()}
    got = {(int(a), int(b)): j for a, b, j in sp[["id_a", "id_b", "jaccard"]].itertuples(index=False)}
    wrong = [k for k, j in got.items() if k not in exact or abs(exact[k] - j) > 1e-9]
    if wrong:
        return False, f"pairs not in the exact join or with another Jaccard: {wrong[:5]}"
    want = min(100, sum(1 for j in exact.values() if j >= sure))
    have = sum(1 for j in got.values() if j >= sure)
    if have != want or len(got) > 100:
        return False, f"{have} pairs with Jaccard >= {sure}, expected {want}"
    return True, "ok"


# fast-path twin -> (per-query key or None, item column, score column)
_TOPK_SHAPE = {
    "x23_bm25_topk_fast": (None, "doc_id", "score"),
    "x25_quantized_topk_fast": ("query_id", "vec_id", "cosine"),
}


def _topk_close(sp, du, key, item, score, tol: float = 1e-5) -> tuple[bool, str]:
    """A fast-path top-k against its exact twin's oracle.  The exact twins
    quantize every input to micro-units before exact arithmetic, the fast
    twins compute in float64: for 64-dim unit vectors that moves a cosine by
    up to 2·√64·5e-7 = 8e-6, plus one step of the 6-dp rounding, hence
    ``tol``.  Per query, the i-th best scores agree within ``tol``; an item
    may sit in one list only when its score ties (within ``tol``) the other
    list's last score, and ranks among near-equal scores may swap."""
    groups = (lambda df: {None: df}) if key is None else (
        lambda df: {k: g for k, g in df.groupby(key)})
    a, b = groups(sp), groups(du)
    if set(a) != set(b):
        return False, f"queries {sorted(a)} vs {sorted(b)}"
    for k in a:
        fa = dict(zip(a[k][item].tolist(), a[k][score].tolist()))
        fb = dict(zip(b[k][item].tolist(), b[k][score].tolist()))
        sa, sb = sorted(fa.values(), reverse=True), sorted(fb.values(), reverse=True)
        if len(sa) != len(sb) or any(abs(x - y) > tol for x, y in zip(sa, sb)):
            return False, f"query {k}: scores {sa} vs {sb}"
        for it in fa.keys() | fb.keys():
            if it in fa and it in fb:
                if abs(fa[it] - fb[it]) > tol:
                    return False, f"query {k} item {it}: {fa[it]} vs {fb[it]}"
            elif abs(fa.get(it, fb.get(it)) - (sb[-1] if it in fa else sa[-1])) > tol:
                return False, f"query {k}: item {it} in one list only"
    return True, "ok"


# ---------------------------------------------------------------------------
# api
# ---------------------------------------------------------------------------


class Api(Workload):
    """One long-lived ``RehiveAPI`` over seeded state, driven by the seeded
    request cycles of ``datagen.api_requests``."""

    def generate(self) -> None:
        self.state = datagen.api_state(self.seed, datagen.API_SIZES[self.size])

    def setup_once(self, spark) -> float:
        from r_e_hive__spark.api import RehiveAPI
        from r_e_hive__spark.schemas import REHIVE_SCHEMAS

        t = time.perf_counter()
        frames = {}
        for name, rows in self.state.tables.items():
            schema = REHIVE_SCHEMAS[name]
            frames[name] = spark.createDataFrame(
                [tuple(r[f.name] for f in schema.fields) for r in rows], schema
            )
        self.api = RehiveAPI(spark, frames, str(datagen.AS_OF))
        return time.perf_counter() - t

    def warm_up(self, spark) -> None:
        """Untimed: five more facade builds, then one ledger read.  The JVM
        compiles the row conversion as builds repeat (a build takes 0.8 s
        after the first and 0.3 s after ten), and the session's first Spark
        jobs pay the JIT (2-4 s where the same read later takes 0.3 s),
        which would otherwise land on the cycle's first request."""
        for _ in range(5):
            self.setup_once(spark)
        self.api.get_commission_history(self.state.tables["users"][0]["id"]).collect()

    def timed(self, spark, seconds, tracer=None):
        from pyspark.sql import DataFrame

        from r_e_hive__spark.api import ApiError

        out: list[OpResult] = []
        self.redeems: list = []
        t_end = time.perf_counter() + seconds
        cycle = 0
        while not out or time.perf_counter() < t_end:
            for req in datagen.api_requests(self.seed, self.state, cycle):
                op = len(out)
                if tracer:
                    tracer.begin(op, req.name)
                w0, t0 = time.time(), time.perf_counter()
                rows, status, t1 = None, 200, None
                try:
                    res = getattr(self.api, req.method)(**req.kwargs)
                    t1 = time.perf_counter()
                    if tracer and isinstance(res, DataFrame):
                        tracer.span("queries.build", op, t0, t1, "op")
                        tracer.plan(res, op)
                    rows = res.collect() if isinstance(res, DataFrame) else res
                except ApiError as e:
                    status = e.status
                except Exception as e:  # unexpected: a failure, keep going
                    status = f"{type(e).__name__}: {e}"
                t3 = time.perf_counter()
                w1 = time.time()
                if tracer:
                    tracer.span("op", op, t0, t3, None)
                    tracer.end(op)
                r = OpResult(op, req.name, req.kind, t3 - t0, w0, w1,
                             build_s=(t1 or t3) - t0,
                             rows_out=len(rows) if isinstance(rows, list) else 0)
                out.append(r)
                if status != req.expect:
                    self._fail(r, f"{req.method}{req.kwargs}: status {status}, expected {req.expect}")
                elif isinstance(rows, list):
                    why = _read_check(req, rows)
                    if why:
                        self._fail(r, f"{req.method}{req.kwargs}: {why}")
                if req.kind == "redeem":
                    self.redeems.append(req)
            cycle += 1
        return out

    def check(self, spark, results):
        """Commission balances and the redeems' ledger rows, recomputed in
        DuckDB from the facade's own tables."""
        try:
            why = _reconcile(self.api, self.state, self.redeems)
        except Exception as e:
            why = f"{type(e).__name__}: {e}"
        if why:
            self._fail(None, f"reconciliation: {why}")
            for r in results:
                if r.kind in ("redeem", "write"):
                    r.ok = False


def _read_check(req, rows) -> str:
    """Cheap content checks on a read's rows (the facade already returned
    them, so this costs no Spark work)."""
    uid = req.kwargs.get("user_id")
    m = req.method
    if m == "get_user" and len(rows) != 1:
        return f"{len(rows)} rows"
    if m == "get_user" and rows[0]["id"] != uid:
        return f"id {rows[0]['id']}"
    if m in ("get_commission_history", "get_notifications", "get_withdrawals"):
        limit = {"get_commission_history": 100, "get_notifications": 50}.get(m)
        if any(r["user_id"] != uid for r in rows) or (limit and len(rows) > limit):
            return "rows of another user or over the limit"
    if m == "get_gift_codes" and any(r["created_by"] != uid for r in rows):
        return "codes of another creator"
    if m == "admin_subscription_payments" and not rows:
        return "no rows"
    return ""


def _reconcile(api, state, redeems) -> str:
    import duckdb

    def cents(df, cols):
        pdf = df.select(*cols).toPandas()
        for c in cols:
            if c == "amount" or c == "commission_balance":
                pdf[c] = [int(round(v * 100)) for v in pdf[c]]
        return pdf

    con = duckdb.connect()
    try:
        con.register("ledger", cents(api.t["commissions"],
                                     ["user_id", "amount", "type", "gift_code_id", "created_at"]))
        con.register("wd", cents(api.t["commission_withdrawals"],
                                 ["id", "user_id", "amount", "status"]))
        con.register("dec", api.t["withdrawal_decisions"].toPandas())
        con.register("bal", cents(api.users_current(), ["id", "commission_balance"]))
        bad = con.execute(
            """
            WITH latest AS (
              SELECT withdrawal_id, status FROM (
                SELECT *, row_number() OVER (PARTITION BY withdrawal_id
                  ORDER BY processed_at DESC, seq DESC) AS rn FROM dec) WHERE rn = 1),
            approved AS (
              SELECT wd.user_id, sum(wd.amount) AS out_c FROM wd
              LEFT JOIN latest l ON l.withdrawal_id = wd.id
              WHERE coalesce(l.status, wd.status) = 'approved' GROUP BY 1),
            earned AS (SELECT user_id, sum(amount) AS in_c FROM ledger GROUP BY 1)
            SELECT count(*) FROM bal
            LEFT JOIN earned e ON e.user_id = bal.id
            LEFT JOIN approved a ON a.user_id = bal.id
            WHERE bal.commission_balance
                  <> coalesce(e.in_c, 0) - coalesce(a.out_c, 0)
            """
        ).fetchone()[0]
        if bad:
            return f"{bad} users' balance differs from ledger minus approved withdrawals"
        parents = {e["referred_id"]: e["referrer_id"] for e in state.tables["referrals"]}
        codes = {c["code"]: c for c in state.tables["gift_codes"]}
        for req in redeems:
            code = codes[req.kwargs["code"]]
            up, u = [], req.kwargs["user_id"]
            while u in parents and len(up) < 10:
                u = parents[u]
                up.append(u)
            got = con.execute(
                "SELECT type, user_id FROM ledger WHERE gift_code_id = ? AND created_at = ?",
                [code["id"], req.kwargs["ts"]],
            ).fetchall()
            passive = sorted(u for t, u in got if t == "passive")
            direct = [u for t, u in got if t == "direct"]
            if passive != sorted(up) or direct != [code["created_by"]]:
                return f"redeem of {code['code']}: ledger rows {got}"
        return ""
    finally:
        con.close()


WORKLOADS = {"curation": Curation, "api": Api}


def make(name: str, work_dir: str, seed: int, size: str) -> Workload:
    return WORKLOADS[name](name, os.path.join(work_dir, "data"), seed, size)
