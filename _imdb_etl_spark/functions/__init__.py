"""Shared column-expression helpers.

Exact-decimal arithmetic policy
-------------------------------
Driver correctness is judged by a value-hash against a DuckDB oracle, and
floating-point SUM/AVG are order-dependent — a shuffled Spark aggregation
and a single-threaded DuckDB scan will disagree in the low bits, and the
disagreement is nondeterministic run-to-run. The synthetic data's money
and quantity columns are 2-decimal values stored as double, so the policy
is:

1. cast inputs to narrow decimals at the scan (exact, and the nearest
   double to a 2-dp value always rounds back to it),
2. do the +,-,* arithmetic and SUM in decimal (exact, associative,
   order-independent — identical in both engines),
3. cast the final aggregate to double for a stable output schema.

Precisions are kept narrow enough that intermediate multiply results fit
in DECIMAL(38,_) in BOTH engines without precision-loss rewrites
(duckdb widens w1+w2; spark w1+w2+1 — keep w1+w2+1 <= 38).

AVG is expressed as CAST(SUM(dec) AS DOUBLE) / COUNT(_): both engines
then perform the same single double division on identical inputs.

This is also the right call at 100 TB: decimal aggregation keeps results
reproducible across retries and partition counts, which float sums do not.
"""

from __future__ import annotations

from urllib.parse import unquote, urlparse

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(12,2)"  # prices, balances, per-event values
FRAC = "decimal(8,2)"  # 1±discount/tax style factors


def dec(col: str | Column, typ: str = MONEY) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


# Ceilings for measure-gated broadcast hints on FILTERED key/dim
# projections: ~4M narrow rows is comfortably inside executor/driver
# broadcast budgets (a long-key set at that size is tens of MB;
# Spark's hard broadcast cap is 8 GB and the practical cliff is driver
# heap). Rows alone under-measure projections that carry string
# payload columns (ADVICE r11: tpch_q2's 'eur' frame has s_name /
# n_name — 4M of THOSE is hundreds of MB), so the same eager pass
# also estimates bytes (fixed type widths + measured string lengths)
# and the hint additionally requires <= BROADCAST_BYTES_MAX estimated
# in-memory size. Above either ceiling the hint is dropped and
# Catalyst/AQE picks the strategy — degrading to a shuffle join
# instead of OOMing the driver. No frame above the same row cap is ever
# read as one partition (``single_partition``).
SMALL_ROWS_MAX = 4_000_000
BROADCAST_BYTES_MAX = 256 << 20

# The largest proven input bound for which ``single_partition`` runs a
# whole plan in one partition. Measured head to head on the star ETL and
# its six grafs over ``tests.fixtures`` stages: local[2] with perfbench's
# JVM flags, alternating gate-on and gate-off rounds in one session,
# medians of materialize / grafs seconds. Largest input bound 16k rows
# (n=10 000): one partition wins (1.75 / 1.34 s against 1.88 / 1.76).
# 79k (n=50 000): wins (4.13 / 1.78 against 4.57 / 1.98). 158k
# (n=100 000): ties (8.76 / 2.73 against 8.69 / 2.65). 237k
# (n=150 000): the grafs lose (2.9 against 2.6 s). 316k (n=200 000):
# loses (16.3 / 4.32 against 14.0 / 3.61), once each staging CSV spans
# two scan splits and two tasks share the work. 1.6M (n=1 000 000):
# the grafs lose by a third (19.0 against 14.0 s). One partition is one
# task however many cores the host has, so the cap sits below the tie.
ONE_PARTITION_ROWS_MAX = 100_000

# estimated in-memory width per value for fixed-width Spark SQL types
# (UnsafeRow-ish: 8-byte word per field; decimals/timestamps a word,
# wide decimals two). Strings/binary/arrays are MEASURED in the gate's
# eager pass (lengths / element counts); anything else unlisted (map,
# struct) falls back to a deliberately heavy 64B/value so odd payloads
# fail toward NOT broadcasting.
_FIXED_WIDTH = {
    "boolean": 8,
    "tinyint": 8,
    "smallint": 8,
    "int": 8,
    "bigint": 8,
    "float": 8,
    "double": 8,
    "date": 8,
    "timestamp": 8,
    "timestamp_ntz": 8,
}


# Logical nodes that never output more rows than their one child.
# LocalLimit is here because its k bounds each partition, not the
# total; the GlobalLimit that Spark always puts above it carries k.
_ROWS_KEPT = frozenset(
    {
        "Project",
        "Filter",
        "SubqueryAlias",
        "View",
        "Window",
        "Sort",
        "Deduplicate",
        "Distinct",
        "LocalLimit",
        "ResolvedHint",
        "Repartition",
        "RepartitionByExpression",
    }
)


def _footer_rows(relation) -> int | None:
    """Sum of the row counts in a parquet relation's file footers, read
    on the driver with no Spark job; None for any other source, remote
    files or more than 64 files."""
    if (
        relation.getClass().getSimpleName() != "HadoopFsRelation"
        or relation.fileFormat().shortName() != "parquet"
    ):
        return None
    files = list(relation.inputFiles())
    if len(files) > 64:
        return None
    import pyarrow.parquet as pq

    total = 0
    for f in files:
        uri = urlparse(f)
        if uri.scheme != "file" or uri.netloc:
            return None
        total += pq.ParquetFile(unquote(uri.path)).metadata.num_rows
    return total


def _node_rows_upper(node) -> int | None:
    name = node.nodeName()
    if name == "LogicalRelation":
        return _footer_rows(node.relation())
    if name == "MemoryPlan":  # a memory sink's rows, held in the driver
        return node.sink().allData().size()
    if name == "LocalRelation":
        return node.data().size()
    if name == "InMemoryRelation":  # a cache counts its rows as it loads
        if not node.cacheBuilder().isCachedColumnBuffersLoaded():
            return None
        return node.stats().rowCount().get()
    children = node.children()
    kids = [children.apply(i) for i in range(children.size())]
    if name == "GlobalLimit":
        k = node.maxRows()
        if not k.isDefined():
            return None
        child = _node_rows_upper(kids[0])
        return k.get() if child is None else min(k.get(), child)
    if name == "Join":
        left = _node_rows_upper(kids[0])
        if left is None:
            return None
        how = node.joinType().toString()
        if how in ("LeftSemi", "LeftAnti"):
            return left
        right = _node_rows_upper(kids[1])
        if right is None:
            return None
        if how in ("Inner", "Cross"):
            return left * right
        if how in ("LeftOuter", "RightOuter", "FullOuter"):
            # matched pairs plus, at most, every unmatched row of each side
            return left * right + left + right
        return None
    if name == "Aggregate":  # a global aggregate over no rows yields one
        child = _node_rows_upper(kids[0])
        return None if child is None else max(child, 1)
    if name in _ROWS_KEPT:
        return _node_rows_upper(kids[0])
    return None


def rows_upper(df) -> int | None:
    """A proven upper bound on the frame's row count, from its analyzed
    plan and no Spark job, or None when no rule proves one. Leaves:
    parquet relations count their file footers; memory sinks and local
    relations the rows the driver holds; a loaded cache its row count.
    Above them: row-keeping nodes (_ROWS_KEPT) pass the child's bound
    on, an Aggregate gives max(child, 1), a GlobalLimit k gives
    min(k, child) or k alone, a left semi or anti join the left side's
    bound, an inner or cross join the product of both sides, and an
    outer join the product plus both sides. Any other node (Generate,
    Union, a non-file source) returns None, and so does any error: the
    bound never guesses.

    Caches are looked up only when the plan as written has no bound and
    the session holds cached data, so an uncached plan costs one walk.
    A cache that is not loaded yet, or no longer, has no bound."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        upper = _node_rows_upper(plan)
        if upper is None:
            caches = df.sparkSession._jsparkSession.sharedState().cacheManager()
            if not caches.isEmpty():
                upper = _node_rows_upper(caches.useCachedData(plan))
        return upper
    except Exception:  # noqa: BLE001
        return None


def single_partition(*frames, max_rows: int = ONE_PARTITION_ROWS_MAX):
    """The one small-input gate. When ``rows_upper`` proves every frame
    holds at most ``max_rows`` rows, and never more than SMALL_ROWS_MAX,
    return each as ``coalesce(1)``; otherwise return the frames
    unchanged, so a large input keeps the parallel plan. All or none:
    one unproven or large frame leaves every frame as it was.

    A single-partition child satisfies every clustered and ordered
    distribution, so an aggregate, window, sort or sort-merge join above
    coalesced inputs plans no exchange, and a broadcast join keeps its
    streamed side in one partition. Each exchange not planned is a stage
    and, under AQE, a job not launched: at small sizes their fixed
    driver-side cost outweighs the work they split. The default cap is
    measured for a whole plan over the frames running in that one task
    (ONE_PARTITION_ROWS_MAX)."""
    cap = min(max_rows, SMALL_ROWS_MAX)
    for df in frames:
        upper = rows_upper(df)
        if upper is None or upper > cap:
            return frames
    return tuple(df.coalesce(1) for df in frames)


def ordered(df, *cols):
    """The closing sort of a result: ``orderBy`` over the small-input
    gate. A result ``rows_upper`` proves at most SMALL_ROWS_MAX rows is
    sorted in one task, with no sampling job for range bounds and no
    range shuffle; only the stage above the last exchange, often a final
    aggregate, runs in that task too (``coalesce(1)`` is narrow), so the
    cap is the engine's small-result ceiling, not the whole-plan one.
    Otherwise it is the parallel ``df.orderBy(*cols)``."""
    return single_partition(df, max_rows=SMALL_ROWS_MAX)[0].orderBy(*cols)


def broadcast_if_bounded(
    df,
    max_rows: int = SMALL_ROWS_MAX,
    max_bytes: int = BROADCAST_BYTES_MAX,
):
    """Apply F.broadcast only when the frame is measured broadcast-
    sized (ADVICE r10: Q2/Q17 hinted filtered key sets that grow
    linearly with the corpus — ~1M part keys at 1000x — so a
    pathological shape would OOM the driver rather than degrade;
    ADVICE r11 added the byte gate for string-bearing projections).

    The gate is ONE eager aggregate over the filtered dimension
    projection (count + summed string lengths — same single pass the
    old COUNT was) — the adaptive-k / recursive-CTE eager-stage
    precedent: a narrow dimension scan whose cost is noise next to
    the fact-table work the hint accelerates, paid only at
    plan-build time. The pass also warms the scan for the real join.
    NOT for fact tables: measuring one of those would be a full
    extra pass."""
    from pyspark.sql.types import ArrayType

    aggs = [F.count(F.lit(1)).alias("__n")]
    fixed = 0
    measured = []  # (alias, per-unit bytes)
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t == "string":
            # 20B/str overhead (object header + offsets) + 2B/char data
            aggs.append(
                F.coalesce(F.sum(F.length(F.col(f.name))), F.lit(0)).alias(
                    f"__b_{f.name}"
                )
            )
            measured.append((f"__b_{f.name}", 2))
            fixed += 20
        elif t == "binary":
            aggs.append(
                F.coalesce(
                    F.sum(F.length(F.col(f.name))), F.lit(0)
                ).alias(f"__b_{f.name}")
            )
            measured.append((f"__b_{f.name}", 1))
            fixed += 20
        elif t.startswith("decimal"):
            fixed += 16
        elif t in _FIXED_WIDTH:
            fixed += _FIXED_WIDTH[t]
        elif isinstance(f.dataType, ArrayType):
            # measure element counts; weight by element width (16B for
            # anything non-fixed inside — deliberately heavy so an
            # embedding-bearing frame fails toward NOT broadcasting)
            ew = _FIXED_WIDTH.get(
                f.dataType.elementType.simpleString(), 16
            )
            aggs.append(
                F.coalesce(F.sum(F.size(F.col(f.name))), F.lit(0)).alias(
                    f"__b_{f.name}"
                )
            )
            measured.append((f"__b_{f.name}", ew))
            fixed += 20
        else:
            fixed += 64
    # Short-circuit (round 13, guide §3.1/§1): when every output column
    # is fixed-width and rows_upper already proves the frame's row
    # count (hence bytes) under both caps, skip the eager measure job
    # entirely — at bench scale the measure pass was a visible per-join
    # constant (tpch_q19 +0.22 s) paid even for trivially tiny
    # dimensions. The bound is a true UPPER bound, so this only ever
    # broadcasts frames the measured pass would also have broadcast;
    # above the caps (every at-scale refusal path) it falls through to
    # the measured pass unchanged.
    if not measured:
        upper = rows_upper(df)
        if (
            upper is not None
            and upper <= max_rows
            and upper * fixed <= max_bytes
        ):
            return F.broadcast(df)
    m = df.agg(*aggs).first()
    n = m["__n"]
    est = n * fixed + sum((m[a] or 0) * w for a, w in measured)
    return F.broadcast(df) if n <= max_rows and est <= max_bytes else df


def one_minus(col: str) -> Column:
    return (F.lit(1) - F.col(col)).cast(FRAC)


def one_plus(col: str) -> Column:
    return (F.lit(1) + F.col(col)).cast(FRAC)


def dsum(expr: Column, alias: str) -> Column:
    """Exact decimal sum surfaced as double."""
    return F.sum(expr).cast("double").alias(alias)


def davg(expr: Column, alias: str) -> Column:
    """Order-independent average: exact decimal sum, one double division."""
    return (F.sum(expr).cast("double") / F.count(expr)).alias(alias)


# lineitem revenue expressions (TPC-H Q1/Q3/Q5/Q6 family)
def disc_price() -> Column:
    return dec("l_extendedprice") * one_minus("l_discount")


def charge() -> Column:
    return dec("l_extendedprice") * one_minus("l_discount") * one_plus("l_tax")


# --- engine-neutral md5 hash integers ---------------------------------
#
# Neither engine shares a hex->int builtin, so the integer value of an
# md5 hex prefix is spelled as strpos arithmetic in the DuckDB oracle
# and conv() in Spark. This pair is the ONE definition both twins use
# (content-stable sampling buckets, LSH bit positions, shard splits,
# checksums all derive from it).


def md5_prefix_int_sql(expr: str, n: int = 4) -> str:
    """DuckDB SQL: integer value of the first ``n`` md5 hex chars of
    ``expr`` (0..16^n - 1). Spark twin: ``hex_prefix_int(F.md5(col), n)``."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1)"
        f" * {16 ** (n - 1 - i)}"
        for i in range(n)
    )
    return f"({terms})"


def hex_prefix_int(col: Column, n: int = 4) -> Column:
    """Spark: integer value of the first ``n`` hex chars of an
    already-hex string column (pair with F.md5 for md5_prefix_int_sql)."""
    return F.conv(F.substring(col, 1, n), 16, 10).cast("long")


def doc_permille_bucket(col: str | Column = "doc_id") -> Column:
    """The content-stable md5 permille bucket (0..999) of an id column
    — the single Spark twin of the oracle-side ``md5 of the id, first
    4 hex chars, mod 1000`` expression that every deterministic split,
    sampling rate, domain cap, and upsampling decision derives from."""
    c = F.col(col) if isinstance(col, str) else col
    return hex_prefix_int(F.md5(c.cast("string"))) % 1000


def rank_centroids_desc(raw):
    """Per-row descending centroid ranking of a (rows x centroids) sim
    matrix, the kernel half of the engine-shared rank key (round-11
    hardening, ADVICE r9/r10): rounded sim DESC, then RAW sim DESC,
    then centroid id ASC (the stable-lexsort index order). The raw
    tie-break neutralizes the rounding-boundary flip: when one engine
    rounds a boundary-straddling raw up and the other down, the engine
    that sees a rounded TIE falls back to the raw ordering — which is
    the order the other engine's rounded key already produced. A
    residual flip needs two distinct centroids with raw sims within
    summation-order noise (~1e-15) of EACH OTHER, i.e. duplicate
    centroids. Every oracle assign CTE ranks by the identical
    (ROUND(sim_raw, 6) DESC, sim_raw DESC, cid) key; pinned by
    test_centroid_rank_raw_tiebreak_straddles_boundary. The rounded
    key uses the half-away-from-zero mechanism (floor(|x|*1e6 + .5),
    sign restored) matching Spark F.round / DuckDB ROUND — not
    np.round's half-even (ADVICE r11).

    The IVF assignment closures (similarity.ivf_inverted_lists,
    semantic._ivf_assign_gemm) call it on the workers."""
    import numpy as np

    key = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5), raw) / 1e6
    return np.lexsort((-raw, -key), axis=-1)
