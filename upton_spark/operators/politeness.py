"""Per-host politeness — the reference's sleep as a token-bucket admission op.

The reference enforces politeness with a *global serial* sleep after every
live (non-stashed) request (lib/upton.rb:96,220-223; default 30 s), capping
throughput at ``1/sleep`` pages/s total. The engine keeps the same per-host
contract — at most ``round_budget / sleep_time`` live fetches per host per
round — but runs hosts in parallel, so the ceiling becomes
``hosts × 1/sleep``: this is the scaling unlock (SURVEY.md §4).

Cache hits consume no tokens, exactly like the reference (no sleep on stash
hits — golden sleep counts at spec/upton_spec.rb:178-228).

Implementation is a ranking window per host + a filter; no UDF, no shuffle
beyond the one hash exchange on ``host`` which the frontier already needs for
its partitioning. Deferred rows keep status ``deferred`` and re-enter the
next round's admission, preserving their priority order (deterministic:
ordering comes from explicit columns, never partition order).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

UNLIMITED = 1 << 40


def tokens_for(sleep_time: float | None, round_budget_s: float) -> int:
    """Live-fetch budget per host per round. sleep<=0 → unlimited (the
    goldens run with sleep_time_between_requests = 0)."""
    if sleep_time is None or sleep_time <= 0:
        return UNLIMITED
    return max(1, int(round_budget_s / sleep_time))


def tokens_for_col(sleep_col: Column, round_budget_s: float) -> Column:
    """:func:`tokens_for` as a Column over per-row sleeps: floor(budget /
    sleep), min 1 so chains always progress; NULL or sleep<=0 → unlimited."""
    return (
        F.when(sleep_col.isNull() | (sleep_col <= 0), F.lit(UNLIMITED))
        .otherwise(F.greatest(F.lit(1), F.floor(F.lit(round_budget_s) / sleep_col)))
        .cast("long")
    )


def adaptive_delays(
    obs: DataFrame,
    host_col: str = "host",
    latency_col: str = "latency_s",
    multiplier: float = 2.0,
    min_delay: float = 0.5,
    max_delay: float = 30.0,
) -> DataFrame:
    """Per-host politeness delay auto-tuned from observed fetch latency:
    ``crawl_delay = clamp(multiplier × mean(latency), min, max)`` — the
    standard good-citizen heuristic (wait a small multiple of the server's
    own response time; a host answering in 200 ms tolerates a much higher
    request rate than one taking 5 s, and a host that slows down under
    load automatically earns a longer delay next round — closed-loop
    backpressure without any per-host driver state).

    Output (host, n_obs, mean_latency_s, crawl_delay) merges into
    admission exactly like robots Crawl-delay does: the Crawler takes it
    via ``host_delays=`` and applies ``greatest(seed sleep, robots delay,
    adaptive delay)`` per host — the most conservative wins.

    Scale shape: one |hosts|-row aggregate over the fetch log (the metrics
    rollup already groups by host, so at scale this rides the same
    shuffle), broadcast back onto the frontier."""
    mean_lat = F.avg(F.col(latency_col).cast("double"))
    return obs.groupBy(host_col).agg(
        F.count(F.lit(1)).alias("n_obs"),
        mean_lat.alias("mean_latency_s"),
        F.least(
            F.lit(float(max_delay)),
            F.greatest(F.lit(float(min_delay)), mean_lat * F.lit(float(multiplier))),
        ).alias("crawl_delay"),
    )


ORDER_COLS = ("priority", "seed_id", "instance_index", "pagination_index", "url")


def _host_rank(df: DataFrame, host_col: str, order_cols: tuple[str, ...]):
    """1-based position of each row in its host's admission order."""
    present = [c for c in order_cols if c in df.columns]
    w = Window.partitionBy(host_col).orderBy(*[F.col(c).asc_nulls_last() for c in present])
    return F.row_number().over(w)


def schedule_per_host(df: DataFrame) -> DataFrame:
    """Closed-form politeness schedule: int ``round`` = (rank-1) div
    ``host_tokens``, where rank is the row's 1-based position in its
    ``host``'s ORDER_COLS order.

    A round loop that admits each host's first ``tokens`` remaining rows
    per round, with tokens constant per host and nothing entering or
    leaving between rounds, fetches exactly these rounds — rank r waits for
    the (r-1) div tokens full rounds ahead of it. Tokens must be >= 1."""
    rank = _host_rank(df, "host", ORDER_COLS)
    return df.withColumn("round", F.floor((rank - 1) / F.col("host_tokens")).cast("int"))


def admit_per_host(
    df: DataFrame,
    tokens_col: str = "host_tokens",
    host_col: str = "host",
    order_cols: tuple[str, ...] = ORDER_COLS,
) -> DataFrame:
    """Split candidate fetches into admitted vs deferred by per-host rank:
    round 0 of :func:`schedule_per_host`, i.e. rank <= tokens (a host with
    no tokens admits nothing).

    Adds boolean ``admitted``. ``tokens_col`` is per-row (joined from the
    seed's sleep budget and/or robots crawl_delay) so hosts can have
    different budgets."""
    return df.withColumn(
        "admitted", _host_rank(df, host_col, order_cols) <= F.col(tokens_col)
    )
