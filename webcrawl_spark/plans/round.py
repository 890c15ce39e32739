"""One BFS crawl round as a declarative DataFrame pipeline (SURVEY.md §3.2).

Dataflow (each step cites the reference semantics it re-expresses):

1.  SELECT   politeness top-k per host (MaxConnectionsPerServer,
    Crawler.cs:533-548 + robots crawl_delay budgets) via a window
    ``row_number() over (partition by host order by priority, seq)``;
    optional salt pre-prune bounds mega-host skew (north_rule explicit skew
    handling); global budget = ordered limit (MaxConnections,
    Crawler.cs:551-562); deterministic ``fetch_seq`` assignment.
2.  FETCH    left join vs the ``pages`` table on ``url`` (no network —
    BASELINE.json:input_hint): absent row = fatal 404 (IsFatalError,
    Crawler.cs:2121-2164); NULL html = retryable failure routed by
    MaxRetries (Crawler.cs:1814-1860). ``pages.url`` is assumed unique
    (the Iceberg table's key; multi-version corpora are pre-deduped
    latest-wins upstream, once, not per round).
3+4. DECODE + PARSE  ONE mapInPandas stage over the shared kernels:
    Arrow-batched charset decode + content filters + MIME
    (Crawler.cs:1619-1656), then link extraction + resolve + URI filters +
    canonicalize + scope + robots + depth rule on the decoded batch.
5.  ENQUEUE  min-depth merge into the carried frontier (Crawler.cs:2303-2307);
    left-anti join vs the seen set (Service.Enqueue dedup,
    Crawler.cs:2301-2320); first-passing-discovery selection;
    MaxQueryStringsPerFile cap (Crawler.cs:2415-2423); ONE deterministic
    global ``seq`` numbering, on which the MaxQueuedLinks cap
    (Crawler.cs:2310-2315) is a filter keeping the first free slots.

Every ordering key is data-derived — the same trace falls out at any
parallelism (local[2] == local[32] == a 1000-executor cluster).

Physical-plan choices (the 100-TB story):

- the ``pages`` table is scanned EXACTLY ONCE per round: the fetch join
  result is checkpointed, and its size is bounded by the politeness budget
  (per-host cap × host count), never by corpus size.
- ONE lineage cut holds the whole fetch side: page rows (fetched ∪
  errors) feed the one ``fetch_log`` write, link rows feed ENQUEUE — no
  decode recomputation, and page text crosses into Python once.
- per-round stats ride the fetch cut as one Observation — no standalone
  count jobs over big inputs, and the fetch_log write is a background
  commit, off the round's critical path.
- sequence assignment is adaptive, in one helper (``_number``) for both
  ``fetch_seq`` and ``seq``: when the input's row bound (the frontier rows
  for SELECT, the fetch cut's candidate count for ENQUEUE) is at most
  ``SMALL_ROUND_THRESHOLD``, a lazy single-partition window embeds in
  downstream plans (zero extra jobs); above it, a range-partitioned
  two-phase numbering keeps every task bounded (``operators/seq.py``).
  Each is numbered once per round — the MaxQueuedLinks cap filters the
  discovery numbering instead of ranking the accepted set a second time.
- the seen anti-join keys on (host, url_key) — uniform hash keys, so a
  mega-host cannot skew the dedup shuffle; politeness selection is the one
  host-partitioned window, protected by the salt pre-prune.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .. import schemas
from ..config import CrawlConfig
from ..functions.crawl_udfs import (
    CANDIDATE_COLS,
    CANDIDATE_SCHEMA,
    FETCH_SCHEMA,
    make_fetch_stage,
)
from ..kernels import robots as R
from ..kernels.errors import FATAL_CODES
from ..operators import bloom as B
from ..operators.ckpt import cut
from ..operators.seq import assign_global_seq
from .state import Manifest

FRONTIER_COLS = schemas.FRONTIER.fieldNames()

# below this many rows, global sequence numbering uses a lazy single-
# partition window (zero extra jobs); above it, the range-partitioned
# two-phase numbering in operators/seq.py
SMALL_ROUND_THRESHOLD = 200_000


def host_hash_col(P: int):
    """Deterministic host-hash partition id (shared by all state tables)."""
    return F.pmod(F.xxhash64("host"), F.lit(P)).cast("int")


@dataclass
class RoundContext:
    cfg: CrawlConfig
    base_uris_bc: object             # spark broadcast of the base-URI list
    uri_filters: tuple
    rule_index_bc: object = None     # spark broadcast of robots rule index
    delays: dict = field(default_factory=dict)  # host -> crawl_delay seconds
    ranks: DataFrame = None          # (url, rank) priority weights — folded
                                     # into priority when given


@dataclass
class Carry:
    """The in-memory half of a round hand-off (the manifest is the durable
    half): the next round reads these frames instead of the background
    writes of the same rows, which may still be in flight."""
    frontier: DataFrame              # frontier entering the round
    seen: DataFrame                  # seen view the round dedups against
    bloom_job: object = None         # the update writing the previous
                                     # round's keys into the Bloom sidecar;
                                     # None = none in flight
    committer: object = None         # the previous round's committer; None
                                     # when the frames come from committed
                                     # tables


def _budget_col(ctx: RoundContext):
    cfg = ctx.cfg
    default = cfg.max_connections_per_server
    budgets = {
        h: R.host_budget(default, d, cfg.politeness_quantum_s)
        for h, d in ctx.delays.items()
    }
    budgets = {h: b for h, b in budgets.items() if b != default}
    if not budgets:
        return F.lit(default)
    m = F.create_map(*[F.lit(x) for kv in budgets.items() for x in kv])
    return F.coalesce(m[F.col("host")], F.lit(default))


class _Job(InheritableThread):
    """Background driver work: the round's independent writes (fetch_log,
    seen delta, frontier, Bloom sidecar) and the carried cut overlap instead
    of queueing as serial driver actions — the scheduler interleaves their
    tasks. Each write has its own directory; the round's committer (a
    ``_Job`` too, :func:`commit_when_landed`) publishes the manifest after
    they all land, so the manifest stays the only visibility point."""

    def __init__(self, fn):
        super().__init__(target=self._run)
        self._fn = fn
        self.exc = None
        self.start()

    def _run(self):
        try:
            self._fn()
        except BaseException as e:  # re-raised on wait() in the driver thread
            self.exc = e
        finally:
            # a finished job frees what its closure holds (a committer's
            # predecessor and writes, a write's checkpointed frames)
            self._fn = None

    def wait(self):
        self.join()
        if self.exc is not None:
            raise self.exc


def _lazy_seq(df: DataFrame, order_cols: list, start: int, out_col: str) -> DataFrame:
    """Single-partition global numbering — deterministic, zero extra jobs;
    for rounds below the small-round threshold only."""
    w = Window.orderBy(*order_cols)
    return df.coalesce(1).withColumn(
        out_col, (F.lit(start) + F.row_number().over(w) - F.lit(1)).cast("long")
    )


def _number(df: DataFrame, order_cols: list, start: int, out_col: str,
            n_rows: int, cfg: CrawlConfig) -> DataFrame:
    """Add ``out_col`` = start, start+1, … in ``order_cols`` order, where
    ``n_rows`` bounds the rows of ``df``: the lazy window up to
    ``SMALL_ROUND_THRESHOLD`` rows, the two-phase range numbering above."""
    if n_rows <= SMALL_ROUND_THRESHOLD:
        return _lazy_seq(df, order_cols, start, out_col)
    return assign_global_seq(
        df, order_cols, start=start, out_col=out_col,
        num_partitions=cfg.num_partitions, reliable=cfg.reliable_checkpoints,
    )


def select_polite(
    frontier: DataFrame, budget, salt_buckets: int = 1,
    max_connections: int | None = None, rank_col: str | None = None,
) -> DataFrame:
    """Per-host politeness selection: the top-``budget`` frontier rows per
    host by (priority, seq), with the mega-host salt pre-prune and the
    optional global connection cap (MaxConnectionsPerServer /
    MaxConnections; Crawler.cs:533-562). ``budget`` is an int or a Column
    (per-host crawl-delay budgets). The salt pre-prune is semantically
    transparent — the true per-host top-k is a subset of the union of
    per-(host, salt) top-ks — it only bounds what any single task sorts.
    ``rank_col`` optionally keeps the final per-host rank. Extracted from
    the round pipeline so the battery drives the REAL selection code path.
    """
    if not isinstance(budget, Column):
        budget = F.lit(budget)
    pool = frontier
    if salt_buckets > 1:
        # skew guard: per-(host, salt) pre-prune — no single task ever
        # sorts a mega-host's whole queue (north_rule explicit skew handling)
        wsalt = Window.partitionBy(
            "host", F.pmod(F.xxhash64("url_key"), F.lit(salt_buckets))
        ).orderBy("priority", "seq")
        pool = (
            frontier.withColumn("__rn", F.row_number().over(wsalt))
            .filter(F.col("__rn") <= budget)
            .drop("__rn")
        )
    w = Window.partitionBy("host").orderBy("priority", "seq")
    sel = pool.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= budget
    )
    sel = (
        sel.withColumnRenamed("__rn", rank_col) if rank_col else sel.drop("__rn")
    )
    if max_connections is not None:
        sel = sel.orderBy("priority", "seq").limit(max_connections)
    return sel


def _join_quietly(jobs: list) -> None:
    """Settle background jobs on an error path without raising their own
    errors (``join``, not ``wait``) — the error in flight is the one to
    propagate."""
    for j in jobs:
        j.join()


def commit_when_landed(state, prev, jobs: list, manifest: Manifest) -> None:
    """A committer's body: commit ``manifest`` once the previous committer
    ``prev`` (None for the seeds) and every write in ``jobs`` have landed.
    On a failure it still joins every job it waits on, so a finished
    committer leaves no earlier committer or write running."""
    try:
        if prev is not None:
            prev.wait()
        for j in jobs:
            j.wait()
    except BaseException:
        _join_quietly(jobs)
        raise
    state.commit(manifest)


def run_round(
    spark: SparkSession, ctx: RoundContext, state, pages: DataFrame,
    m: Manifest, carry: Carry,
) -> tuple[Manifest, Carry]:
    """Run round ``m.next_round`` from the manifest ``m`` and the
    in-memory ``carry``; return the next round's manifest and carry.

    The round's writes and its committer run in the background: the
    committer waits for ``carry.committer`` and this round's writes, then
    commits the returned manifest, so rounds commit in order and the next
    round's compute never waits. ``carry.bloom_job`` ORs the previous round's
    keys into the Bloom sidecar, so the round waits on it before reading
    the sidecar.

    If the round raises, every background job it started (a sidecar
    build, the fetch_log write, the carried cut, the committer) is joined
    before the error propagates: an orphaned writer racing a resumed run's
    overwrite of the same round dir could leave mixed data under a later
    manifest."""
    started: list = []
    try:
        return _run_round(ctx, state, pages, m, carry, started)
    except BaseException:
        _join_quietly(started)
        raise


def _run_round(ctx, state, pages, m, carry, started: list):
    """The body of :func:`run_round`; every ``_Job`` it starts goes
    through ``launch`` into ``started``."""

    def launch(fn) -> _Job:
        started.append(_Job(fn))
        return started[-1]

    cfg = ctx.cfg
    P = cfg.num_partitions
    rnd, frontier, bloom_job = m.next_round, carry.frontier, carry.bloom_job
    # seen feeds both the dedup anti-join and the derived query-string
    # counts — persist so the (large, growing) union scan happens once
    seen = carry.seen.persist()

    # The Bloom check runs once seen reaches bloom_min_seen. With no update
    # in flight and no complete sidecar of this layout on disk (the first
    # checking round, a resume after rounds without the check, a changed
    # bloom_bits or partition count), rebuild it from the full seen view —
    # a distributed job that overlaps SELECT..FETCH; the check stage waits.
    # The host_hash is recomputed: seen rows keep the partition count they
    # were written with. A round without the check drops the marker before
    # it can commit keys the sidecar lacks.
    sidecar = B.sidecar_dir(state.root)
    use_bloom = (
        cfg.bloom_min_seen is not None and m.seen_rows >= cfg.bloom_min_seen
    )
    if not use_bloom:
        B.drop_complete(sidecar)
    elif bloom_job is None and not B.is_complete(sidecar, cfg.bloom_bits, P):
        keys = seen.withColumn("host_hash", host_hash_col(P))
        bloom_job = launch(lambda: B.build_sidecar(
            keys, sidecar, cfg.bloom_bits, P, rebuild=True
        ))

    # ---------------- 1. SELECT (politeness + budgets) ----------------
    sel = select_polite(
        frontier, _budget_col(ctx), cfg.salt_buckets, cfg.max_connections
    )
    sel = _number(
        sel, ["priority", "seq"], m.next_fetch_seq, "fetch_seq",
        m.frontier_rows, cfg,
    )

    # ------------ 2-4. FETCH + DECODE + PARSE: ONE pages scan, ONE cut ----
    # Bounded by the politeness budget, not the corpus: the join holds at
    # most (hosts-with-work × per-host budget) rows of html. ``pages`` here
    # is the redirect-resolved effective view (operators/redirect.py):
    # (url, html, final_url, exceeded, final_present) — html is the chain-
    # terminal row's. The fetch mapInPandas sees EVERY joined row (error
    # rows pass through with NULL decode columns, the routing flags computed
    # JVM-side below ride along) and emits the page rows plus their link
    # candidates, so the fetch join, charset decode, error routing and link
    # extraction all share a SINGLE checkpoint — and since html is dropped
    # inside the stage, the materialized cut is lighter than the raw join.
    pg = pages.withColumn("__present", F.lit(True))
    present0 = F.col("__present").isNotNull()
    status0 = F.coalesce(F.col("http_status"), F.lit(200))
    ok0 = (
        present0
        & ~F.coalesce(F.col("exceeded"), F.lit(False))
        & F.coalesce(F.col("final_present"), F.lit(False))
        & (status0 == 200)
        & F.col("html").isNotNull()
    )
    # repartition by url BEFORE the cut: the join inherits the pages table's
    # layout (possibly a handful of files), and everything downstream — the
    # fetch stage and the fetch_log files — would inherit that
    # serialization. The shuffle moves one round's html only (budget-bounded).
    # MaxFileSize truncates the TRANSFER, not just the reported byte count
    # (CopyStream, Crawler.cs:1743-1771; knob 583-598): the cut happens here
    # at the fetch boundary so decode, link-scan, and the bytes metric all
    # see the truncated body — and so one pathological multi-GB row can
    # never inflate the fetch shuffle or an Arrow decode batch.
    fetched = (
        sel.join(pg, "url", "left")
        .repartition(P, "url")
        .select(
            *FRONTIER_COLS, "fetch_seq",
            # conditional so the (common) under-cap body passes by reference
            # instead of paying a per-row byte-array copy; None = Infinite
            (
                F.when(
                    F.length("html") > cfg.max_file_size,
                    F.expr(f"substring(html, 1, {int(cfg.max_file_size)})"),
                ).otherwise(F.col("html")).alias("html")
                if cfg.max_file_size is not None
                else F.col("html")
            ),
            "final_url", "server_mime",
            status0.cast("int").alias("http_status"),
            present0.alias("present"),
            F.coalesce(F.col("exceeded"), F.lit(False)).alias("exceeded"),
            F.coalesce(F.col("final_present"), F.lit(False)).alias("final_present"),
            F.coalesce(ok0, F.lit(False)).alias("ok"),
        )
        .mapInPandas(
            make_fetch_stage(
                cfg, ctx.base_uris_bc, ctx.uri_filters, ctx.rule_index_bc
            ),
            FETCH_SCHEMA,
        )
    )
    # routing (fatal taxonomy; IsFatalError Crawler.cs:2121-2164 + redirect
    # outcomes Crawler.cs:635-647, 1585-1597):
    #   original url absent                  → http_404 fatal
    #   redirect chain exceeds MaxRedirects  → too_many_redirects fatal
    #   chain lands on an absent url         → http_404 fatal
    #   status in the fatal table            → http_<code> fatal, no retry
    #   status retryable (5xx …) / html NULL → retryable (MaxRetries)
    #   downloaded but final url out of scope→ redirect_out_of_scope fatal
    #                                          (decided in DECODE, as the
    #                                          reference checks ResponseUri
    #                                          only after the response)
    # ``ok`` false + reachable + non-fatal status ⟺ the old
    # "status 200 with NULL html, or retryable status" condition — html
    # itself is gone from the checkpoint, the flag stands in for it.
    present = F.col("present")
    status_c = F.col("http_status")
    ok = F.col("ok")
    good = ok & F.col("reject").isNull()
    c_exceeded = present & F.col("exceeded")
    c_dead = present & ~F.col("exceeded") & ~F.col("final_present")
    reachable = present & ~F.col("exceeded") & F.col("final_present")
    fatal_code = status_c.isin(list(FATAL_CODES))
    c_fatal_status = reachable & (status_c != 200) & fatal_code
    nf = F.col("failures") + 1
    retryable = ~ok & reachable & ~fatal_code & (nf <= cfg.max_retries)

    # per-round stats ride the cut as an Observation — no standalone
    # aggregate job. Discoveries (acc ⊆ cand) can be orders of magnitude
    # larger than the incoming frontier (fan-out × links per page), so the
    # single-partition fast path for 5f gates on the candidate (link-row)
    # count, not frontier_rows. The selected/good/retry counts are over the
    # page rows (every selected row is one page row), so ENQUEUE never
    # waits on the fetch_log write.
    page = F.col("passes").isNull()
    stats = [
        F.count("passes").alias("n_cand"),
        F.count(F.when(page, 1)).alias("n_sel"),
        F.count(F.when(page & good, 1)).alias("n_good"),
        F.count(F.when(page & retryable, 1)).alias("n_retry"),
    ]
    obs_c = Observation(f"fetch_r{rnd}")
    # the Observation fires on both kinds of cut (localCheckpoint and the
    # reliable checkpoint(eager=True)), counting each row once
    fetched = cut(fetched.observe(obs_c, *stats), cfg.reliable_checkpoints)
    v = obs_c.get
    n_selected, n_good, n_retry = v["n_sel"], v["n_good"], v["n_retry"]
    dec = fetched.filter(page)
    cand = fetched.filter(~page).select(*CANDIDATE_COLS)

    # ONE projection over the page rows classifies every selected row:
    # fetch_log is its fetch-log columns, the retry rows re-enter the
    # frontier from it, and the failure count is +1 for every fetch error.
    routed = dec.withColumns({
        "status": F.when(good, F.lit("ok"))
        .when(ok, F.col("reject"))
        .when(~present | c_dead, F.lit("http_404"))
        .when(c_exceeded, F.lit("too_many_redirects"))
        .when(c_fatal_status, F.concat(F.lit("http_"), status_c.cast("string")))
        .when(retryable, F.lit("retryable"))
        .otherwise(F.lit("retries_exhausted")),
        "fatal": ~good & ~retryable,
        "failures": F.when(ok, F.col("failures")).otherwise(nf).cast("int"),
        "http_status": F.when(~present | c_dead, 404)
        .when(good, 200)
        .when(c_fatal_status, status_c)
        .otherwise(0).cast("int"),
    })
    # the fetch_log write reads only the cut — a background commit from
    # here on, overlapping ENQUEUE and the next round like the others.
    # The decode stage already NULLs mime/charset/bytes/text off the good rows.
    fetch_log = routed.select(
        "url", "url_key", "host",
        F.lit(rnd).cast("int").alias("round"),
        "fetch_seq", "depth", "link_type", "http_status",
        "mime", "charset", "bytes",
        F.col("text").alias("extracted_text"),
        "final_url", "status", "failures", "fatal",
    )
    fetch_log_job = launch(lambda: state.write_table("fetch_log", rnd, fetch_log))

    retry_rows = routed.filter(F.col("status") == "retryable").select(*FRONTIER_COLS)

    # ---------------- 5. ENQUEUE ----------------
    n_carried = m.frontier_rows - n_selected + n_retry

    # 5a. min-depth merge into carried entries (still-queued rediscoveries,
    #     Crawler.cs:2303-2307). Carried keys ⊆ seen, so joining all
    #     candidate minima is exact.
    # the selected set is politeness-budget-bounded (hosts × per-host cap),
    # never corpus-sized — broadcast it so the (huge) frontier is filtered
    # in place instead of shuffled. The hint is gated on the MEASURED
    # selected-row count (known from the fetch Observation): with
    # max_connections unset, hosts-with-work × per-host budget can exceed
    # driver memory, and Catalyst must pick the join then.
    sel_seqs = dec.select("seq")
    if n_selected <= 5_000_000:
        sel_seqs = F.broadcast(sel_seqs)
    carried = frontier.join(
        sel_seqs, "seq", "left_anti"
    ).select(*FRONTIER_COLS).unionByName(retry_rows)
    cand_mins = cand.groupBy("host", "url_key").agg(F.min("depth").alias("__cmin"))
    carried = (
        carried.join(cand_mins, ["host", "url_key"], "left")
        .withColumn("depth", F.least("depth", F.coalesce("__cmin", "depth")))
        .drop("__cmin")
        .select(*FRONTIER_COLS)
    )
    # the carried cut is data-independent of the accept pipeline (5b-5f)
    # below — materialize it CONCURRENTLY with the acc checkpoint; the next
    # round's frontier is then a zero-cost union of the two cuts
    carried_slot: dict = {}
    carried_job = launch(
        lambda: carried_slot.update(df=cut(carried, cfg.reliable_checkpoints))
    )

    # 5b. frontier dedup: left-anti join vs the persistent seen set
    #     (Service.Enqueue, Crawler.cs:2301-2320). Join key (host, url_key)
    #     hashes on the full key → no mega-host shuffle skew. With the Bloom
    #     sidecar, candidates are repartitioned on host_hash and each task
    #     tests its partitions' bitset FILES (executor-maintained, see
    #     operators/bloom.py — no driver filter, no full-filter broadcast);
    #     misses are DEFINITELY new and bypass the anti-join; only
    #     possible-seen rows (rediscoveries + false positives) enter the
    #     shuffle. The two consumers of the flagged frame share the
    #     repartition exchange (ReusedExchange).
    bloom_flagged = None
    if use_bloom:
        if bloom_job is not None:
            # the rebuild or the previous round's update must be on disk
            # before any action triggers the check stage
            bloom_job.wait()
        flagged = (
            cand.withColumn("__hh", host_hash_col(P))
            .repartition(P, "__hh")
            .mapInPandas(
                B.make_check_stage(sidecar, cfg.bloom_bits),
                CANDIDATE_SCHEMA + ", __hh int, maybe_seen boolean",
            )
            .persist()  # two consumers below — run the check stage once
        )
        bloom_flagged = flagged
        definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen", "__hh")
        checked = (
            flagged.filter(F.col("maybe_seen")).drop("maybe_seen", "__hh")
            .join(seen.select("host", "url_key"), ["host", "url_key"], "left_anti")
        )
        new_cand = definitely_new.unionByName(checked)
    else:
        new_cand = cand.join(
            seen.select("host", "url_key"), ["host", "url_key"], "left_anti"
        )

    # 5c. first passing discovery per key wins and defines the entry's
    #     attributes + seen.first_depth; discoveries at or after it (passing
    #     or not) min-merge into the entry's frontier depth. ONE window pass
    #     + ONE same-key groupBy (no re-shuffle: both key on (host, url_key))
    #     — struct min is lexicographic, so min(struct(pos_f, pos_o)) over
    #     passing rows IS the first passing position, and the anchor row's
    #     attributes come back via min(when(pos == anchor, struct(attrs))).
    pos = F.struct(F.col("pos_f"), F.col("pos_o"))
    wk = Window.partitionBy("host", "url_key")
    anchored = (
        new_cand.withColumn(
            "__anchor", F.min(F.when(F.col("passes"), pos)).over(wk)
        )
        .filter(F.col("__anchor").isNotNull() & (pos >= F.col("__anchor")))
    )
    attrs = F.struct(
        "url", "path", "query", "depth", "referrer", "link_type",
        "is_external", "priority", "pos_f", "pos_o",
    )
    acc = (
        anchored.groupBy("host", "url_key")
        .agg(
            F.min(F.when(pos == F.col("__anchor"), attrs)).alias("__a"),
            F.min("depth").alias("__mdepth"),
        )
        .select(
            "host", "url_key",
            F.col("__a.url").alias("url"),
            F.col("__a.path").alias("path"),
            F.col("__a.query").alias("query"),
            F.col("__mdepth").alias("depth"),
            F.col("__a.referrer").alias("referrer"),
            F.col("__a.link_type").alias("link_type"),
            F.col("__a.is_external").alias("is_external"),
            F.col("__a.priority").alias("priority"),
            F.col("__a.pos_f").alias("pos_f"),
            F.col("__a.pos_o").alias("pos_o"),
            F.col("__a.depth").alias("first_depth"),
        )
    )

    # 5c'. rank-weighted priority (when a ranks table is given): discovered
    #      entries join it (url → rank, e.g. a link_pagerank output) and fold
    #      the rank into the priority — base class still dominates (RANK_SPAN
    #      exceeds any clamped rank), rank orders within a class. This is
    #      the reference's HTML-first class ordering (EnqueueCore,
    #      Crawler.cs:2507-2512) generalized to an externally-computed
    #      signal. Uniform-key join on url (the ranks table is corpus-sized
    #      at scale — never assume broadcast; AQE picks one when it is small).
    if ctx.ranks is not None:
        from ..functions.rankprio import fold_rank_priority

        acc = fold_rank_priority(acc, ctx.ranks)

    # 5d. crawler-trap cap: ≥ max distinct query strings per (host, path)
    #     → ignore (Crawler.cs:2415-2423). Each accepted key adds exactly
    #     one distinct query to its path, so rank-vs-prior-count is exact.
    #     None = Infinite: skip the join (and its full seen re-aggregation).
    #     The prior counts per (host, path) derive from seen: each seen row
    #     is one distinct query string of its path.
    if cfg.max_query_strings_per_file is not None:
        pq = seen.groupBy("host", "path").agg(F.count(F.lit(1)).alias("n"))
        wpq = Window.partitionBy("host", "path").orderBy("pos_f", "pos_o")
        acc = (
            acc.withColumn("__rnq", F.row_number().over(wpq))
            .join(pq, ["host", "path"], "left")
            .withColumn("__prior", F.coalesce(F.col("n"), F.lit(0)))
            .filter(F.col("__prior") + F.col("__rnq") <= F.lit(cfg.max_query_strings_per_file))
            .drop("__rnq", "n", "__prior")
        )

    # 5f. deterministic discovery sequence (EnqueueCore order ADAPTed to a
    #     (priority, seq) total order; Crawler.cs:2507-2512) — the one
    #     numbering of the round's discoveries, bounded by the candidate count
    acc = _number(acc, ["pos_f", "pos_o"], m.next_seq, "seq", v["n_cand"], cfg)

    # 5e. global frontier cap (MaxQueuedLinks, Crawler.cs:2310-2315): the
    #     reference stops accepting once the queue is full, so the cap keeps
    #     the first ``slots`` discoveries in that same order — a filter on
    #     the 5f numbering ((pos_f, pos_o) is unique per accepted key), and
    #     the kept seqs stay contiguous from next_seq
    if cfg.max_queued_links is not None:
        slots = max(0, cfg.max_queued_links - n_carried)
        acc = acc.filter(F.col("seq") < m.next_seq + slots)
    # acc feeds four consumers (seen delta, new frontier entries, the Bloom
    # sidecar update, the next-frontier cut) — checkpoint once so the 5b-5f
    # window/join pipeline runs exactly once per round instead of once per
    # consumer. n_new rides the cut as an Observation (no standalone scan).
    obs_n = Observation(f"acc_r{rnd}")
    acc = acc.observe(obs_n, F.count(F.lit(1)).alias("n"))
    acc = cut(acc, cfg.reliable_checkpoints)
    n_new = obs_n.get["n"]
    if bloom_flagged is not None:
        bloom_flagged.unpersist()
    seen.unpersist()

    seen_delta = acc.select(
        "host",
        host_hash_col(P).alias("host_hash"),
        "url_key", "path", "query",
        F.col("first_depth").cast("int").alias("first_depth"),
        F.lit(rnd).cast("int").alias("first_round"),
    )

    new_entries = acc.select(
        "url", "url_key", "host",
        host_hash_col(P).alias("host_hash"),
        "path", "query",
        F.col("depth").cast("int").alias("depth"),
        "referrer", "link_type", "is_external",
        F.col("priority").cast("int").alias("priority"),
        "seq",
        F.lit(0).cast("int").alias("failures"),
        F.lit(rnd + 1).cast("int").alias("round"),
        # extracted links are always GETs; POST entries enter only through
        # the seed/enqueue API (Crawler.cs:1081-1101) and, being user-forced,
        # never pass the depth gate — the reference's POST depth exemption
        # (Crawler.cs:1475-1484) is honored structurally.
        F.lit(None).cast("string").alias("post_data"),
    )
    # the NEXT round's frontier: union of the two cuts above — (a) the next
    # round consumes in-memory materializations instead of reading the
    # written parquet back, and (b) the anti-join/union lineage never chains
    # across rounds (every input is itself a checkpoint from this round)
    carried_job.wait()
    next_frontier = carried_slot["df"].unionByName(new_entries)

    # the remaining commits (seen delta, frontier snapshot, Bloom sidecar)
    # all read only checkpointed inputs and write independent directories —
    # they launch here and OVERLAP the next round's compute; the round's
    # committer commits its manifest once they land (the per-round
    # serial-action floor is what caps scaling efficiency at small rounds).
    # The sidecar update is executor-side: the seen delta ORs into the
    # per-partition bitset files in place. Only a checking round updates:
    # its sidecar is complete (the check stage waited on its build), and
    # seen only grows, so the next round checks too. The check has read
    # this round's bits already; the next round's check waits for this
    # update through the carry.
    jobs = [
        fetch_log_job,
        launch(lambda: state.write_table("seen", rnd + 1, seen_delta)),
        launch(lambda: state.write_table("frontier", rnd + 1, next_frontier)),
    ]
    next_bloom_job = None
    if use_bloom:
        next_bloom_job = launch(lambda: B.build_sidecar(
            seen_delta, sidecar, cfg.bloom_bits, P, rebuild=False
        ))
        jobs.append(next_bloom_job)

    frontier_out = n_carried + n_new
    nm = Manifest(
        next_round=rnd + 1,
        next_seq=m.next_seq + n_new,
        next_fetch_seq=m.next_fetch_seq + n_selected,
        frontier_rows=frontier_out,
        seen_rows=m.seen_rows + n_new,
        done=frontier_out == 0,
        counters=[
            [rnd, "select", "selected", n_selected],
            [rnd, "fetch", "fetched", n_good],
            [rnd, "fetch", "retries", n_retry],
            [rnd, "fetch", "errors", n_selected - n_good - n_retry],
            [rnd, "enqueue", "new_links", n_new],
            [rnd, "commit", "frontier_out", frontier_out],
        ],
    )
    prev = carry.committer
    return nm, Carry(
        frontier=next_frontier,
        seen=seen.unionByName(seen_delta),
        bloom_job=next_bloom_job,
        committer=launch(lambda: commit_when_landed(state, prev, jobs, nm)),
    )
