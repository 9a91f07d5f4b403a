"""The tail percentile, the median-pass total and the order-insensitive
table fingerprint."""
import statistics


def tail(values, beyond=10):
    """The highest percentile of `values` that still has at least `beyond`
    samples above it, as (value, percentile). The value is the sample with
    exactly `beyond` samples above it in sorted order; the percentile is the
    share of samples at or below it, rounded down to a whole percent.
    Below 2 * beyond + 1 samples no percentile above the median has that
    many samples beyond it: the maximum is returned, with percentile 100."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    if len(xs) <= 2 * beyond:
        return xs[-1], 100
    i = len(xs) - beyond - 1
    return xs[i], (100 * (i + 1)) // len(xs)


def median_pass_total(passes):
    """Total wall of one pass from repeated passes over the same work:
    the sum over steps of each step's median across the passes. `passes`
    holds one list of step walls per pass; only the steps every pass
    reached count."""
    if not passes:
        return 0.0
    steps = min(len(p) for p in passes)
    return sum(statistics.median(p[i] for p in passes) for i in range(steps))


# Every column of `orders`, normalised so that a value reads the same
# whatever parquet physical type carried it (timestamp[ms], [us] or INT96).
ORDERS_ROW = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
              "epoch_us(o_orderdate), o_orderpriority")


def fingerprint(con, relation, row=ORDERS_ROW):
    """(row count, sum of per-row hashes) of a DuckDB relation expression:
    equal for two relations holding the same multiset of rows, whatever
    their order or file layout."""
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) FROM {relation}").fetchone()
    return int(n), int(h)
