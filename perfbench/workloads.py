"""The benchmark's workloads: operation streams and their correctness checks.

A workload hands the runner a warm-up list and then one cycle of
operations at a time; the runner times each operation, from the call into
the engine through ``collect()``, and then calls its check.  Checks run
outside the timed region:

* SELECTs are compared with DuckDB on the same Parquet files through
  ``tests/oracle_util.compare``;
* nightly DML is mirrored on a DuckDB copy of the table, affected-row
  counts must agree and the interleaved read-backs are compared;
* corpus jobs with a registered DuckDB oracle are compared with it, the
  others against the digest recorded in ``digests.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field
from typing import Any, Callable

from datagen import lookup_keys, orders_batch, substitute, tpch_substitutions

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")

#: The corpus jobs of the ``operators`` layer, as registered query names:
#: exact dedup, batched cosine top-k, PII scrubbing and the full text
#: analysis projection.  text_analyze has no DuckDB oracle and is checked
#: against its recorded digest.  The other five registered corpus jobs
#: are left out to keep a run inside the benchmark's time budget; see
#: README.md.
CORPUS_JOBS = ["dedup_exact", "ann_batch_topk", "text_pii_scrub", "text_analyze"]


class WrongAnswer(Exception):
    """The engine answered, but not what the oracle says."""


@dataclass
class Op:
    name: str  #: "<class>.<what>", e.g. ``tpch.q7`` or ``dml.update``
    kind: str  #: "read" or "write"
    run: Callable[[], Any]
    check: Callable[[Any], None]


class Fetched:
    """A collected result in the shape ``oracle_util.compare`` reads.
    Columns and schema are taken from the DataFrame lazily, outside the
    timed region."""

    def __init__(self, df, rows):
        self.df = df
        self.rows = rows

    def collect(self):
        return self.rows

    @property
    def columns(self):
        return self.df.columns

    @property
    def schema(self):
        return self.df.schema


@dataclass
class Context:
    """Everything a workload needs; made by the runner."""

    spark: Any
    session: Any
    duck: Any  #: DuckDB connection with the same tables as views
    rng: Any  #: numpy Generator seeded from --seed
    data_dir: str
    work_dir: str
    tracer: Any
    sizes: dict
    stats: dict = field(default_factory=dict)

    def fetch(self, df) -> Fetched:
        """Plan and run ``df``; in a traced run the physical planning is
        forced first so that it gets its own span."""
        tr = self.tracer
        if tr.enabled:
            with tr.span("exec.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("exec.run"):
            rows = df.collect()
        return Fetched(df, rows)

    def stat(self, name: str, value: float) -> None:
        self.stats[name] = self.stats.get(name, 0) + value


def compare_sql(ctx: Context, oracle_sql: str) -> Callable[[Fetched], None]:
    from tests.oracle_util import compare

    def check(res: Fetched) -> None:
        ok, msg = compare(res, ctx.duck, oracle_sql)
        if not ok:
            raise WrongAnswer(msg)

    return check


def sql_read(ctx: Context, name: str, sql: str, oracle_sql: str | None = None) -> Op:
    return Op(
        name, "read",
        lambda: ctx.fetch(ctx.session.execute(sql)),
        compare_sql(ctx, oracle_sql or sql),
    )


# --- tpch_report -----------------------------------------------------------


def tpch_texts() -> dict[str, str]:
    """The 22 TPC-H statements as the engine's plan modules hold them."""
    from infinidb_spark.plans import ref_perf, tpch

    texts = {}
    for i in range(1, 23):
        text = getattr(tpch, f"_Q{i}", None) or getattr(ref_perf, f"_TPCH_Q{i}", None)
        if text is None:
            raise RuntimeError(f"TPC-H Q{i} text not found in the plan modules")
        texts[f"q{i}"] = text
    return texts


class ReportBatch:
    """Long reads: analyst reports and corpus curation jobs.  One pass
    runs the 22 TPC-H statements (parameters drawn from the seed) and the
    corpus jobs, in an order shuffled on every pass."""

    name = "report_batch"
    cycle_s = 12.0  #: nominal engine seconds of one cycle (4 cores)

    def __init__(self, ctx: Context):
        self.ctx = ctx
        subs = tpch_substitutions(ctx.rng)
        self.texts = {k: substitute(v, subs[k]) for k, v in tpch_texts().items()}
        with open(DIGESTS) as f:
            self.digests = json.load(f)

    def cycle(self) -> list[Op]:
        ops = [sql_read(self.ctx, f"tpch.{n}", t) for n, t in self.texts.items()]
        ops += [corpus_job(self.ctx, j, self.digests) for j in CORPUS_JOBS]
        return [ops[i] for i in self.ctx.rng.permutation(len(ops))]

    warmup = cycle


def corpus_job(ctx: Context, name: str, digests: dict[str, str]) -> Op:
    """A registered corpus job, checked against its DuckDB oracle or, when
    it has none, against its recorded digest."""
    from infinidb_spark.plans.registry import ORACLES, QUERIES

    fn = QUERIES[name]

    def run():
        with ctx.tracer.span(f"plans.{name}"):
            df = fn(ctx.spark, ctx.data_dir)
        return ctx.fetch(df)

    if name in ORACLES:
        inner = compare_sql(ctx, ORACLES[name])
    else:
        def inner(res: Fetched) -> None:
            got = digest(res.rows)
            if got != digests.get(name):
                raise WrongAnswer(f"{name}: digest {got} != recorded {digests.get(name)}")

    def check(res: Fetched) -> None:
        inner(res)
        ctx.stats[f"operators.{name}_rows"] = len(res.rows)

    return Op(f"job.{name}", "read", run, check)


# --- lookup_nightly --------------------------------------------------------


class LookupNightly:
    """Short statements: point lookups (uniform and Zipf-hot keys,
    PREPARE/EXECUTE) while the nightly window runs DML on a managed copy
    of ``orders``, with read-backs of that table beside the writes.  One
    cycle is every write kind once, a read-back per write and three
    lookups of each shape, shuffled."""

    name = "lookup_nightly"
    cycle_s = 8.0  #: nominal engine seconds of one cycle (4 cores)
    table = "orders_nightly"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.batch = 0
        self.keys = iter(lookup_keys(ctx.rng, ctx.sizes["orders"], 100_000))

    # lookups ---------------------------------------------------------------

    def _key(self) -> int:
        return int(next(self.keys))

    def lookup(self, shape: str) -> Op:
        ctx, k = self.ctx, self._key()
        cust = k % ctx.sizes["customer"]
        if shape == "prepared":
            sql = ("select o_orderkey, o_totalprice, o_orderstatus from orders "
                   f"where o_orderkey = {k}")

            def run():
                ctx.session.execute(f"SET @k = {k}")
                return ctx.fetch(ctx.session.execute("EXECUTE lookup_order USING @k"))

            return Op("lookup.prepared", "read", run, compare_sql(ctx, sql))
        sql = {
            "orders_key": f"select * from orders where o_orderkey = {k}",
            "lineitem_key": (
                "select l_linenumber, l_partkey, l_quantity, l_extendedprice "
                f"from lineitem where l_orderkey = {k} order by l_linenumber"
            ),
            "customer_key": (
                "select c_custkey, c_name, c_acctbal, c_mktsegment "
                f"from customer where c_custkey = {cust}"
            ),
            "orders_range": (
                "select o_orderkey, o_orderdate, o_totalprice from orders "
                f"where o_orderkey between {k} and {k + 20} order by o_orderkey"
            ),
            "topn_customer": (
                "select o_orderkey, o_totalprice from orders "
                f"where o_custkey = {cust} "
                "order by o_totalprice desc, o_orderkey limit 5"
            ),
        }[shape]
        return sql_read(ctx, f"lookup.{shape}", sql)

    LOOKUP_SHAPES = ["orders_key", "lineitem_key", "customer_key", "orders_range",
                     "topn_customer", "prepared"]

    # nightly DML -------------------------------------------------------------

    def _mirror_count(self, sql: str) -> int:
        return int(self.ctx.duck.execute(sql).fetchone()[0])

    def _dml(self, name: str, sql: str) -> Op:
        ctx = self.ctx

        def check(n: int) -> None:
            want = self._mirror_count(sql)
            if n != want:
                raise WrongAnswer(f"{name}: engine affected {n} rows, DuckDB {want}")
            ctx.stat("dml.rows_affected", n)

        return Op(f"dml.{name}", "write", lambda: ctx.session.execute(sql), check)

    def write(self, kind: str) -> Op:
        ctx, rng, t = self.ctx, self.ctx.rng, self.table
        self.batch += 1
        b = self.batch
        if kind == "load":
            lines, good = orders_batch(rng, 10_000_000 + b * 1000, 200,
                                       ctx.sizes["customer"], 0.05)
            path = os.path.join(ctx.work_dir, f"batch_{b}.csv")
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
            stmt = f"LOAD DATA INFILE '{path}' INTO TABLE {t} FIELDS TERMINATED BY ','"

            def check(n: int) -> None:
                if n != len(good):
                    raise WrongAnswer(f"load: {n} rows loaded, {len(good)} well-formed")
                warn = ctx.session.execute("SHOW WARNINGS").collect()
                rejected = sum(int(str(r[2]).split()[0]) for r in warn
                               if "rejected" in str(r[2]))
                if rejected != len(lines) - len(good):
                    raise WrongAnswer(f"load: {rejected} rows rejected, "
                                      f"{len(lines) - len(good)} malformed")
                ctx.duck.executemany(f"insert into {t} values (?, ?, ?, ?, ?, ?)", good)
                ctx.stat("sources.rows_loaded", n)
                ctx.stat("sources.rows_rejected", rejected)
                ctx.stat("dml.rows_affected", n)

            return Op("dml.load", "write", lambda: ctx.session.execute(stmt), check)
        if kind == "insert_select":
            lo = int(rng.integers(0, ctx.sizes["orders"] - 200))
            return self._dml("insert_select", (
                f"insert into {t} select o_orderkey + {20_000_000 + b * 1000}, "
                "o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
                f"from orders where o_orderkey between {lo} and {lo + 199}"
            ))
        m, r = 97, int(rng.integers(0, 97))
        if kind == "update":
            bump = [0.5, 1.25, 2.75][int(rng.integers(0, 3))]
            return self._dml("update", (
                f"update {t} set o_totalprice = o_totalprice + {bump}, "
                f"o_orderpriority = '1-URGENT' where o_orderkey % {m} = {r}"
            ))
        if kind == "delete":
            return self._dml("delete", (
                f"delete from {t} where o_orderkey % {m} = {r} and o_orderstatus = 'P'"
            ))
        if kind == "rollback":
            stmt = f"delete from {t} where o_orderkey % {m} = {r}"

            def run():
                ctx.session.execute("BEGIN")
                n = ctx.session.execute(stmt)
                ctx.session.execute("ROLLBACK")
                return n

            def check(n: int) -> None:
                # the read-backs that follow see the table unchanged
                want = self._mirror_count(f"select count(*) from {t} where o_orderkey % {m} = {r}")
                if n != want:
                    raise WrongAnswer(f"rollback: deleted {n} rows in the transaction, "
                                      f"DuckDB counts {want}")

            return Op("dml.rollback", "write", run, check)
        if kind == "analyze":
            def check(res: Fetched) -> None:
                if not res.rows or any(r[-1] != "OK" for r in res.rows):
                    raise WrongAnswer(f"analyze: {res.rows}")

            return Op("dml.analyze", "write",
                      lambda: ctx.fetch(ctx.session.execute(f"ANALYZE TABLE {t}")), check)
        raise ValueError(kind)

    WRITE_KINDS = ["load", "insert_select", "update", "delete", "rollback", "analyze"]

    def readback(self, which: int) -> Op:
        t = self.table
        if which == 0:
            sql = (f"select o_orderstatus, o_orderpriority, count(*) as n, "
                   "cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint) as cents "
                   f"from {t} group by o_orderstatus, o_orderpriority "
                   "order by o_orderstatus, o_orderpriority")
        else:
            k = self._key()
            sql = (f"select * from {t} where o_orderkey between {k} and {k + 30} "
                   "order by o_orderkey")
        return sql_read(self.ctx, f"readback.{'summary' if which == 0 else 'range'}", sql)

    def storage(self) -> dict[str, tuple[float, str, str]]:
        """Files and bytes of the table's current version, and every byte
        its versions hold on disk (space amplification)."""
        import glob

        links = glob.glob(os.path.join(os.environ["TMPDIR"], "infinidb_tables_*", self.table))
        if not links:
            return {}
        cur = parquet_files(os.path.realpath(links[0]))
        every = parquet_files(os.path.dirname(links[0]))
        return {
            "dml.table_files": (len(cur), "count", "current version"),
            "dml.table_bytes": (sum(cur.values()), "B", "current version"),
            "dml.disk_bytes": (sum(every.values()), "B", "every version still on disk"),
        }

    # streams -------------------------------------------------------------------

    def warmup(self) -> list[Op]:
        ctx, t = self.ctx, self.table

        def create():
            n = ctx.session.execute(f"CREATE TABLE {t} AS SELECT * FROM orders")
            ctx.session.execute(
                "PREPARE lookup_order FROM 'select o_orderkey, o_totalprice, "
                "o_orderstatus from orders where o_orderkey = ?'")
            return n

        def created(n: int) -> None:
            ctx.duck.execute(f"create table {t} as select * from orders")
            if n != ctx.sizes["orders"]:
                raise WrongAnswer(f"CTAS copied {n} rows, want {ctx.sizes['orders']}")

        return [Op("dml.create", "write", create, created), *self.cycle()]

    def cycle(self) -> list[Op]:
        ops = [self.lookup(s) for s in self.LOOKUP_SHAPES for _ in range(3)]
        ops += [self.write(k) for k in self.WRITE_KINDS]
        ops += [self.readback(i % 2) for i in range(len(self.WRITE_KINDS))]
        return [ops[i] for i in self.ctx.rng.permutation(len(ops))]


WORKLOADS = {w.name: w for w in (ReportBatch, LookupNightly)}


def parquet_files(top: str) -> dict[str, int]:
    """Path -> size of every Parquet file under ``top``."""
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(top)
        for f in files
        if f.endswith(".parquet")
    }


def digest(rows) -> str:
    """Order-insensitive digest of a result; floats rounded to 6 places."""
    def canon(v):
        if isinstance(v, float):
            return round(v, 6) + 0.0
        if isinstance(v, (list, tuple)):
            return [canon(x) for x in v]
        return v

    lines = sorted(repr([canon(v) for v in r]) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
