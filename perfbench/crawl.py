"""crawl_discover: the frontier loop, end to end.

``bootstrap`` and then consecutive ``run_iteration`` +
``expire_snapshots(keep_last=2)`` calls through a real SnapshotStore, with
robots, blocklist and host_rank tables present and a deterministic SQL
``fetch_fn`` that fails every URL of a fixed ~6% of hosts (so backoff
runs) and emits four outlinks per page, about half of them already seen
or queued, so frontier adds outgrow the batch and the store compacts
every other iteration.

Set-up bootstraps the store; the warm-up runs iteration 1 on it, which
makes the snapshot every op starts from. One op replays iteration 2 from
snapshot 1 on a copy of that store (made untimed), so every op does
identical work: an iteration with a non-empty seen set, token-bucket and
backoff state, merge-on-read add and delete segments, a frontier
compaction in its commit, and an expire that deletes snapshot 0's dirs.

Inputs are pure functions of the seed: URL ids are hashed with the seed
by Spark's xxhash64, host sizes are Zipf-like (log-uniform host index).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from harness import OpTimer, dir_bytes, median

# Zipf-skewed hosts: host = floor((H+1)^u) - 1 gives P(host=r) ∝ ln((r+2)/(r+1))
SHAPE = dict(n_seeds=50_000, n_hosts=1_000)
COMPACT_EVERY = 4  # frontier: base + 2 segments per iteration → folds at iteration 2
NEW_HOSTS = 2_000  # discovery's pool of hosts absent from the seeds
N_DOMAINS = 97  # host h lives under domain d{h % 97}.example
BLOCKED_DOMAINS = (7, 61)  # ~2% of hosts, blocked at the parent domain
BLOCKED_HOST_MOD = (211, 5)  # plus single hosts: h % 211 == 5
ROBOTS_MOD = (10, 3)  # h % 10 == 3 disallows /private/
PRIVATE_FRAC = 0.05
FAIL_PCT = 6  # hosts whose every fetch fails
RANKED_HOSTS = 500
LINK_MOD = 1_000_003
FRONTIER_CFG = dict(
    default_tokens_per_sec=0.1,
    default_burst=4,
    default_max_per_batch=8,
    n_salt=16,
)
BATCH_SECONDS = 20.0
QUOTA_1 = min(8, int(4 + 0.1 * BATCH_SECONDS))  # iteration-1 quota of a fresh host


def _u01(seed: int, col: Column, tag: int) -> Column:
    h = F.xxhash64(F.lit(seed), col, F.lit(tag))
    return (h.bitwiseAND(F.lit((1 << 53) - 1))).cast("double") / float(1 << 53)


def _host_idx(seed: int, sid: Column, n_hosts: int) -> Column:
    import math

    return (
        F.floor(F.exp(_u01(seed, sid, 1) * F.lit(math.log(n_hosts + 1)))) - 1
    ).cast("long")


def _host_name(h: Column) -> Column:
    return F.concat(
        F.lit("h"), h.cast("string"), F.lit(".d"),
        (h % N_DOMAINS).cast("string"), F.lit(".example"),
    )


def seed_url(seed: int, sid: Column, n_hosts: int) -> Column:
    """URL of seed id `sid`: the generator and the discovery links share it."""
    h = _host_idx(seed, sid, n_hosts)
    private = _u01(seed, sid, 2) < PRIVATE_FRAC
    path = F.concat(
        F.when(private, F.lit("/private/")).otherwise(F.lit("/p/")),
        sid.cast("string"),
    )
    return F.concat(F.lit("https://"), _host_name(h), path)


def gen_seeds(spark, seed: int, n_seeds: int, n_hosts: int, cores: int) -> DataFrame:
    """~4% of rows repeat an earlier id; a repeat is the identical row,
    so bootstrap's dedup is deterministic."""
    rid = F.col("id")
    sid = F.when(_u01(seed, rid, 0) < 0.04, F.floor(rid / 2).cast("long")).otherwise(rid)
    h = _host_idx(seed, sid, n_hosts)
    return spark.range(n_seeds, numPartitions=cores).select(
        seed_url(seed, sid, n_hosts).alias("url"),
        _host_name(h).alias("host"),
        # 4 decimals: ties are common, so the url tie-break is exercised
        F.round(_u01(seed, sid, 3), 4).alias("priority"),
        F.lit(None).cast("timestamp").alias("discovered_ts"),
        F.round(_u01(seed, sid, 4) * 0.1, 4).alias("recrawl_score"),
    )


def robots_table(spark, n_hosts: int) -> DataFrame:
    """What ``robots_frame`` returns for these hosts' robots.txt bodies,
    parsed on the driver with the same parser: ~1,000 bodies need no
    Python workers, which keeps the loop's set-up free of worker start-up
    (the loop itself runs no Python UDF)."""
    from commoncrawl_fetcher_lite_spark.frontier.robots import (
        ROBOTS_SCHEMA,
        parse_robots_txt,
        split_rules,
    )

    rows = []
    for h in range(n_hosts):
        body = ("User-agent: *\nDisallow: /private/\n"
                if h % ROBOTS_MOD[0] == ROBOTS_MOD[1] else "User-agent: *\nDisallow:\n")
        disallow, allow, delay = parse_robots_txt(body, "ccbot")
        plain, wild = split_rules(disallow, allow)
        rows.append((
            f"h{h}.d{h % N_DOMAINS}.example", disallow, allow, delay,
            [{"p": p, "len": n, "allow": a} for p, n, a in plain],
            [{"rx": rx, "len": n, "allow": a} for rx, n, a in wild],
        ))
    return spark.createDataFrame(rows, ROBOTS_SCHEMA)


def policy_tables(spark, n_hosts: int):
    """(robots, blocklist, host_rank) frames for hosts 0..n_hosts-1."""
    block_rows = [(f"d{d}.example", "spam") for d in BLOCKED_DOMAINS] + [
        (f"h{h}.d{h % N_DOMAINS}.example", "ads")
        for h in range(n_hosts + NEW_HOSTS)
        if h % BLOCKED_HOST_MOD[0] == BLOCKED_HOST_MOD[1]
    ]
    blocklist = spark.createDataFrame(block_rows, "domain string, category string")
    host_rank = spark.range(min(RANKED_HOSTS, n_hosts)).select(
        _host_name(F.col("id")).alias("host"),
        F.round(F.lit(1.0) / (F.col("id") + 2), 6).alias("rank"),
    )
    return robots_table(spark, n_hosts), blocklist, host_rank


def host_blocked(h: int) -> bool:
    return h % N_DOMAINS in BLOCKED_DOMAINS or h % BLOCKED_HOST_MOD[0] == BLOCKED_HOST_MOD[1]


def path_disallowed(h: int, n_hosts: int, url: str) -> bool:
    return (
        h < n_hosts
        and h % ROBOTS_MOD[0] == ROBOTS_MOD[1]
        and url.split("/", 3)[3].startswith("private/")
    )


def make_fetch(seed: int, n_hosts: int):
    """Deterministic synthetic fetch: a host fails every fetch iff
    xxhash64(host) mod 100 < FAIL_PCT; every page emits four links."""

    def fetch(batch: DataFrame) -> DataFrame:
        success = F.pmod(F.xxhash64(F.col("host")), F.lit(100)) >= FAIL_PCT
        links = outlinks(seed, n_hosts, F.col("url"), F.col("host"))
        return batch.select("url", "host", success.alias("success"), links.alias("links"))

    return fetch


def outlinks(seed: int, n_hosts: int, url: Column, host: Column) -> Column:
    """Four links per page: a same-host page from a 64-page pool (mostly
    already known after a few iterations), a seed URL (already seen or
    queued), a fresh same-host page, and a page on a new host."""
    n = F.regexp_extract(url, r"/(\d+)$", 1).cast("long")
    base = F.concat(F.lit("https://"), host)
    new_h = F.lit(n_hosts) + F.pmod(n * 31, F.lit(NEW_HOSTS))
    return F.array(
        F.concat(base, F.lit("/l/"), F.pmod(n * 7 + 1, F.lit(64)).cast("string")),
        seed_url(seed, F.pmod(n * 13 + 5, F.lit(SHAPE["n_seeds"])), n_hosts),
        F.concat(base, F.lit("/l/"), F.pmod(n * 4 + 2, F.lit(LINK_MOD)).cast("string")),
        F.concat(
            F.lit("https://"), _host_name(new_h), F.lit("/p/"),
            F.pmod(n * 17 + 3, F.lit(LINK_MOD)).cast("string"),
        ),
    )


def _compacted_tables(man: dict, snap: int) -> list[str]:
    tables = man["snapshots"][str(snap)]["tables"]
    return sorted(
        name
        for name, meta in tables.items()
        if meta.get("mode") == "base"
        and meta.get("path", "").endswith(os.sep + "compacted")
        and f"snap={snap}" in meta["path"]
    )


class CrawlWorkload:
    min_ops = 1
    checkpoint_names = {
        "scheduler.run_iteration": (
            "scheduler.candidates", "scheduler.refill", "scheduler.schedule",
        )
    }

    @staticmethod
    def task_slots(box: int) -> int:
        """local[nproc]: the loop runs no Python UDF, so a task slot is one
        JVM thread."""
        return box

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.replays: list[dict] = []  # one record per op
        self._rep = 0

    # ------------------------------------------------------------- set-up
    def _bootstrap(self, tag: str, shape: dict) -> tuple[str, str]:
        """Generate the seeds and policy tables and commit snapshot 0."""
        from commoncrawl_fetcher_lite_spark.frontier import scheduler
        from commoncrawl_fetcher_lite_spark.frontier.checkpoint import SnapshotStore

        seeds_path = os.path.join(self.work, "data", f"seeds-{tag}")
        gen_seeds(self.spark, self.seed, shape["n_seeds"], shape["n_hosts"], self.cores) \
            .write.mode("overwrite").parquet(seeds_path)
        robots, blocklist, host_rank = policy_tables(self.spark, shape["n_hosts"])
        root = os.path.join(self.work, "data", f"store-{tag}")
        store = SnapshotStore(root, self.spark, compact_every=COMPACT_EVERY)
        scheduler.bootstrap(store, self.spark.read.parquet(seeds_path), robots=robots,
                            blocklist=blocklist, host_rank=host_rank)
        return root, seeds_path

    def setup(self) -> None:
        self._rep += 1
        self.pristine, self.seeds_path = self._bootstrap(str(self._rep), SHAPE)
        self.fetch = make_fetch(self.seed, SHAPE["n_hosts"])

    def warmup(self) -> None:
        """Iteration 1 on the bootstrapped store: every op replays
        iteration 2 from its snapshot. No replay runs untimed: the JVM
        keeps warming for several iterations, and a run cannot afford
        them, so every run measures the first replay alike."""
        from commoncrawl_fetcher_lite_spark.frontier.checkpoint import SnapshotStore

        store = SnapshotStore(self.pristine, self.spark, compact_every=COMPACT_EVERY)
        self.first = self._iterate(store, OpTimer(None, False))

    # ----------------------------------------------------------- measured
    def _iterate(self, store, timer) -> dict:
        """run_iteration + expire_snapshots, then (untimed) what the commit
        did, read from the manifest file and the batch's parquet files."""
        import time

        import pyarrow.parquet as pq

        from commoncrawl_fetcher_lite_spark.config import FrontierConfig
        from commoncrawl_fetcher_lite_spark.frontier import scheduler

        with open(os.path.join(store.root, "_manifest.json")) as f:
            before = json.load(f)
        frontier_read = before["snapshots"][str(before["current"])]["tables"]["frontier"]
        # what this iteration's frontier read resolves: 1.0 for a base
        rec: dict = {"read_amplification": frontier_read.get("read_amplification", 1.0)}
        if timer.traced:  # the pass-ratio base: resolved frontier rows
            with timer("trace.count"):
                rec["frontier_before"] = store.read("frontier").count()
        t0 = time.perf_counter()
        with timer("scheduler.run_iteration"):
            res = scheduler.run_iteration(store, FrontierConfig(**FRONTIER_CFG),
                                          batch_seconds=BATCH_SECONDS, fetch_fn=self.fetch)
        iteration_s = time.perf_counter() - t0
        on_disk = dir_bytes(store.root)  # untimed
        t0 = time.perf_counter()
        with timer("crawl.expire"):
            store.expire_snapshots(keep_last=2)
        expire_s = time.perf_counter() - t0
        rec.update(iteration_s=iteration_s, loop_s=iteration_s + expire_s,
                   expired_bytes=on_disk - dir_bytes(store.root))
        with open(os.path.join(store.root, "_manifest.json")) as f:
            man = json.load(f)
        meta = man["snapshots"][str(res.snapshot)]
        rec.update(
            scheduled=res.n_scheduled,
            seen_total=res.n_seen_total,
            frontier_left=res.n_frontier_left,
            compacted=_compacted_tables(man, res.snapshot),
            bytes_written=meta["metrics"].get("bytes_written", 0),
            live_bytes=_live_bytes(man),
            urls=pq.read_table(meta["tables"]["batch"]["path"], columns=["url"])
            .column("url").to_pylist(),
        )
        return rec

    def op(self, i: int, timer) -> dict:
        """Iteration 2, replayed from the snapshot-1 manifest."""
        from commoncrawl_fetcher_lite_spark.frontier.checkpoint import SnapshotStore

        # untimed: a copy of the store as iteration 1 left it, with the
        # manifest's paths pointing into the copy, so the commit and the
        # expire (which prunes snapshot 0's dirs) work on a store of their own
        root = os.path.join(self.work, "data", f"replay{i}")
        shutil.copytree(self.pristine, root)
        man = os.path.join(root, "_manifest.json")
        with open(man) as f:
            text = f.read()
        with open(man, "w") as f:
            f.write(text.replace(self.pristine + os.sep, root + os.sep))
        store = SnapshotStore(root, self.spark, compact_every=COMPACT_EVERY)
        rec = self._iterate(store, timer)
        return {"items": rec["scheduled"], "timed_s": rec["loop_s"], "record": rec,
                "store": store}

    def after_op(self, i: int, out: dict) -> None:
        self.replays.append(out["record"])
        if i == 0:
            self.store0 = out["store"]
        else:
            shutil.rmtree(out["store"].root)

    # ------------------------------------------------------------- checks
    def _expected_first_batch(self) -> set[str]:
        """Plain per-host top-k of the eligible seeds by (priority desc,
        url asc), quota = the fresh-host token bucket's first refill."""
        import pyarrow.parquet as pq

        df = pq.read_table(self.seeds_path).to_pandas().drop_duplicates("url")
        n_hosts = SHAPE["n_hosts"]
        h = df["host"].str.extract(r"^h(\d+)\.")[0].astype(int)
        keep = [
            not host_blocked(hh) and not path_disallowed(hh, n_hosts, u)
            for hh, u in zip(h, df["url"])
        ]
        df = df[keep].copy()
        rank = self.store0.read("host_rank").toPandas().set_index("host")["rank"]
        # the scheduler's arithmetic, in its order
        df["prio"] = (df["priority"] + 1.0 * df["host"].map(rank).fillna(0.0)) \
            + df["recrawl_score"]
        df = df.sort_values(["host", "prio", "url"], ascending=[True, False, True])
        df["rn"] = df.groupby("host").cumcount() + 1
        return set(df.loc[df["rn"] <= QUOTA_1, "url"])

    def finish(self) -> tuple[list[tuple[str, bool, str]], str]:
        recs = [self.first, self.replays[0]]
        checks = []
        all_urls = [u for r in recs for u in r["urls"]]
        seen_set = set(all_urls)
        checks.append(("no URL scheduled twice", len(seen_set) == len(all_urls),
                       f"{len(all_urls)} scheduled, {len(seen_set)} distinct"))
        bad = []
        for u in all_urls:
            host = u.split("/", 3)[2]
            hh = int(host[1:host.index(".")])
            if host_blocked(hh) or path_disallowed(hh, SHAPE["n_hosts"], u):
                bad.append(u)
        checks.append(("blocked hosts and disallowed paths never scheduled",
                       not bad, f"{len(bad)} violations e.g. {bad[:2]}"))
        want1 = self._expected_first_batch()
        got1 = set(self.first["urls"])
        checks.append(("iteration 1 batch == per-host top-k", got1 == want1,
                       f"got {len(got1)} want {len(want1)} "
                       f"missing {len(want1 - got1)} extra {len(got1 - want1)}"))
        checks.append(self._reconcile(seen_set, recs[-1]))
        digests = {_digest([self.first, r]) for r in self.replays}
        checks.append(("every replay schedules the same batch", len(digests) == 1,
                       f"{len(digests)} distinct over {len(self.replays)} replays"))
        return checks, _digest(recs)

    def _reconcile(self, seen_set: set[str], last: dict) -> tuple[str, bool, str]:
        """seen ∪ frontier == distinct seeds ∪ links of everything
        scheduled, and seen_total == |scheduled|."""
        spark = self.spark
        seen_rows = self.store0.read("urlseen").count()
        frontier = self.store0.read("frontier").select("url")
        seeds = spark.read.parquet(self.seeds_path).select("url")
        sched = spark.createDataFrame([(u,) for u in seen_set], "url string")
        links = sched.select(
            F.explode(outlinks(self.seed, SHAPE["n_hosts"], F.col("url"),
                               F.regexp_extract("url", r"^https://([^/]+)/", 1))).alias("url")
        )
        # one job: per URL, is it wanted (seed or link) and held (in the
        # frontier or scheduled)?
        flags = (
            seeds.unionByName(links).select("url", F.lit(1).alias("w"), F.lit(0).alias("h"))
            .unionByName(frontier.unionByName(sched).select("url", F.lit(0).alias("w"),
                                                           F.lit(1).alias("h")))
            .groupBy("url").agg(F.max("w").alias("w"), F.max("h").alias("h"))
            .agg(F.sum("w").alias("want"), F.sum("h").alias("have"),
                 F.sum(F.when(F.col("w") != F.col("h"), 1).otherwise(0)).alias("diff"))
            .first()
        )
        n_want, n_have, n_diff = flags["want"], flags["have"], flags["diff"]
        ok = n_diff == 0 and seen_rows == len(seen_set) == last["seen_total"]
        return ("seen + frontier reconcile with seeds + discoveries", ok,
                f"seen {seen_rows} (manifest {last['seen_total']}, scheduled "
                f"{len(seen_set)}); seen∪frontier {n_have} vs seeds∪links {n_want}; "
                f"sym diff {n_diff}")

    # ------------------------------------------------------------ metrics
    def out_bytes_per_item(self) -> float:
        """Live bytes the manifest references after an op, per seen URL
        (the store's space cost)."""
        return median([r["live_bytes"] / max(r["seen_total"], 1) for r in self.replays])

    def named(self, ops: list[dict]) -> dict:
        recs = self.replays
        comp = [r["iteration_s"] for r in recs if r["compacted"]]
        return {
            "crawl_urls_per_s": (sum(r["scheduled"] for r in recs)
                                 / sum(r["loop_s"] for r in recs), "URL/s"),
            "iteration_p50_s": (median([r["iteration_s"] for r in recs]), "s"),
            "iterations": (len(recs), "count"),
            "compacting_iterations": (len(comp), "count"),
            "compacting_iteration_p50_s": (median(comp), "s"),
            "first_iteration_s": (self.first["iteration_s"], "s"),
            "store_bytes_per_seen_url": (self.out_bytes_per_item(), "B"),
        }

    def layers(self, tracer, folded: dict, ops: list[dict], cores: int) -> dict:
        """Medians over the traced ops (one replayed iteration each)."""
        from layertrace import per_span_event_metrics, span_totals, unit_of, within

        rows: list[dict] = []
        traced = [o for o in ops if o["traced"]]
        span_walls: dict[str, float] = {}
        for o in traced:
            spans = tracer.op_spans(o["i"])
            for k, v in span_totals(spans).items():
                span_walls[k] = span_walls.get(k, 0.0) + v
            it = next(s for s in spans if s["name"] == "scheduler.run_iteration")
            rec = self.replays[o["i"]]
            inside = within(spans, it)
            tot = span_totals(inside)
            kids = [s for s in inside if s["parent_id"] == it["id"]]
            r = {
                "scheduler.iteration_s": it["end"] - it["start"],
                "scheduler.candidates_s": tot.get("scheduler.candidates", 0.0),
                "scheduler.refill_s": tot.get("scheduler.refill", 0.0),
                "scheduler.schedule_s": tot.get("scheduler.schedule", 0.0),
                "checkpoint.commit_s": tot.get("checkpoint.commit", 0.0),
                "trace.count_in_iteration_s": sum(
                    s["end"] - s["start"] for s in kids if s["name"] == "trace.count"),
            }
            # self time is the remainder: driver planning, the quota_cap
            # first() job, store reads and manifest parsing
            r["scheduler.self_s"] = r["scheduler.iteration_s"] - sum(
                v for k, v in r.items() if k != "scheduler.iteration_s")
            rows_of = {s["name"]: s["meta"].get("rows", 0) for s in kids
                       if s["name"].startswith("scheduler.")}
            cand = rows_of.get("scheduler.candidates", 0)
            r["scheduler.candidates_rows"] = cand
            r["scheduler.refilled_hosts"] = rows_of.get("scheduler.refill", 0)
            r["scheduler.candidates_pass_ratio"] = cand / max(rec["frontier_before"], 1)
            r["scheduler.scheduled_ratio"] = rec["scheduled"] / max(cand, 1)
            for k, v in tot.items():
                if k.startswith("checkpoint.write_s."):
                    r[k] = v
            compacts = [s for s in inside if s["name"] == "checkpoint.compact"]
            r["checkpoint.compact_s"] = sum(s["end"] - s["start"] for s in compacts)
            r["checkpoint.compactions"] = len(compacts)
            r["checkpoint.compact_bytes"] = sum(s["meta"].get("bytes", 0) for s in compacts)
            r["checkpoint.bytes_written_per_url"] = rec["bytes_written"] / max(rec["scheduled"], 1)
            r["checkpoint.read_amplification"] = rec["read_amplification"]
            r["checkpoint.manifest_reads"] = sum(
                1 for s in inside if s["name"] == "checkpoint.manifest")
            r["checkpoint.manifest_s"] = tot.get("checkpoint.manifest", 0.0)
            r["checkpoint.expire_s"] = sum(
                s["end"] - s["start"] for s in spans if s["name"] == "checkpoint.expire")
            r["checkpoint.expired_bytes"] = rec["expired_bytes"]
            rows.append(r)
        out = {}
        for k in sorted({k for r in rows for k in r}):
            out[k] = (median([r.get(k, 0.0) for r in rows]), unit_of(k))
        n_iter = max(len(rows), 1)
        ev = per_span_event_metrics(folded, [o["i"] for o in traced], cores, span_walls)
        out["scheduler.spark_jobs"] = (
            sum(t["jobs"] for name, t in ev.items()
                if name not in ("trace.count", "op", "crawl.expire",
                                "checkpoint.expire")) / n_iter, "count")
        for span in ("scheduler.candidates", "scheduler.refill", "scheduler.schedule",
                     "checkpoint.commit", "checkpoint.compact"):
            t = ev.get(span)
            if t is None:
                continue
            for k in ("executor_s", "shuffle_write_bytes", "shuffle_read_bytes",
                      "spill_bytes", "tasks"):
                out[f"{span}.{k}"] = (t[k] / n_iter, unit_of(k))
            out[f"{span}.busy_ratio"] = (t.get("busy_ratio", 0.0), "ratio")
        # commit's writes overlap on a 3-thread pool: executor time summed
        writes = [t for k, t in ev.items() if k.startswith("checkpoint.write_s.")]
        out["checkpoint.write_executor_s"] = (
            sum(t["executor_s"] for t in writes) / n_iter, "s")
        out["traced_iterations"] = (len(rows), "count")
        return out


def _live_bytes(man: dict) -> int:
    paths = set()
    for snap in man["snapshots"].values():
        for t in snap["tables"].values():
            if "path" in t:
                paths.add(t["path"])
            for seg in t.get("segments", []) + t.get("delete_segments", []):
                paths.add(seg["path"])
    return sum(dir_bytes(p) for p in paths)


def _digest(records: list[dict]) -> str:
    return hashlib.sha256(
        json.dumps([sorted(r["urls"]) for r in records]).encode()).hexdigest()
