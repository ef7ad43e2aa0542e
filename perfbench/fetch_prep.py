"""fetch_prep: CDX index → WARC extraction → interleaved-span docs →
gopher/repetition gates → exact + MinHash-LSH dedup → packed sequences.

One op runs the whole pipeline: ``plans.fetch_pipeline.run_fetch`` with a
local-file resolver lands the docs as parquet (index scan, selector,
budgets, pandas-UDF range reads and span assembly), then the corpus-prep
operators run over the landed docs and ``pack_sequences`` writes the
packed output. The crawl frontier is bypassed entirely.

The corpus is generated here rather than by ``fixtures.generate``: its
24-word vocabulary makes every document a near duplicate of every other.
The index and WARC layout follow the fixture's shape (Zipf hosts, 70%
html with ``[[MEDIA:i]]`` markers, ~5% empty payloads, ~2% digest
mismatches, ~2% dirty index lines), and the html text is drawn from a
seeded 3,000-word Zipf vocabulary with planted exact duplicates, near
duplicates (~4% of words replaced), repetitive spam and short docs. A
planted copy sits on its source's host with a larger id, so min-id dedup
removes the copy.
"""

from __future__ import annotations

import base64
import functools
import gzip
import hashlib
import json
import math
import os
import random
import re
import shutil
import time

from harness import OpTimer, dir_bytes, median

N_LINES = 1_200
N_INDEX_FILES = 4
N_WARC_FILES = 10
N_HOSTS = 200
VOCAB = 3_000
SEQ_LEN = 512
JACCARD = 0.7
EXACT_FRAC, NEAR_FRAC, SPAM_FRAC, SHORT_FRAC = 0.05, 0.05, 0.03, 0.05
NEAR_EDIT = 0.04
MIN_NEAR_REMOVED = 0.95  # LSH is probabilistic: a fixed floor, set before measuring
MIME_DIST = [("text/html", 0.70), ("application/pdf", 0.10), ("image/jpeg", 0.08),
             ("video/mp4", 0.05), ("application/octet-stream", 0.04), ("text/plain", 0.03)]
STATUS_DIST = [("200", 0.80), ("302", 0.08), ("404", 0.07), ("500", 0.05)]
PATTERN = "xx/xx/xxx"
SELECTOR = {
    "must": {"status": [{"match": "200"}]},
    "should": {"mime_detected": [{"match": "text/html"}, {"match": "video/mp4"},
                                 {"match": "application/pdf"}]},
}
WANTED_MIMES = {"text/html", "video/mp4", "application/pdf"}
KNOWN_KEYS = {
    "url", "mime", "mime-detected", "status", "digest", "length", "offset",
    "filename", "charset", "languages", "truncated", "redirect",
}


# ------------------------------------------------------------------ corpus
def _pick(rng: random.Random, dist) -> str:
    x, acc = rng.random(), 0.0
    for v, p in dist:
        acc += p
        if x <= acc:
            return v
    return dist[-1][0]


def _vocab(rng: random.Random) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < VOCAB:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _html_payload(rng: random.Random, words: list[str]) -> bytes:
    """1-4 text paragraphs with a media marker between each pair."""
    n_text = rng.randint(1, 4)
    cuts = sorted(rng.sample(range(1, len(words)), n_text - 1)) if len(words) > n_text else []
    parts, start = [], 0
    for k, c in enumerate(cuts + [len(words)]):
        if k:
            parts.append(f"[[MEDIA:{k - 1}]]")
        parts.append(" ".join(words[start:c]))
        start = c
    return "\n\n".join(parts).encode()


def generate(root: str, seed: int) -> dict:
    """Write index files and compound WARCs under `root`; return the raw
    lines and payloads plus the planted-duplicate plan."""
    from commoncrawl_fetcher_lite_spark.fixtures import make_warc_member, sha1_b32

    rng = random.Random(f"fetch_prep:{seed}")
    vocab = _vocab(rng)
    weights = [1.0 / (r + 1) ** 0.9 for r in range(VOCAB)]
    docs: list[dict] = []
    plan = {"exact": [], "near": [], "spam": [], "short": []}
    n_base = int(N_LINES * (1 - EXACT_FRAC - NEAR_FRAC))
    for i in range(n_base):
        r = random.Random(f"{seed}:{i}")
        d = {"host": int(math.exp(r.random() * math.log(N_HOSTS + 1))) - 1,
             "mime": _pick(r, MIME_DIST), "status": _pick(r, STATUS_DIST),
             "truncated": r.random() < 0.10, "empty": r.random() < 0.05,
             "bad_digest": r.random() < 0.02, "dirty": r.random()}
        if d["mime"].startswith("text/"):
            roll = r.random()
            if roll < SPAM_FRAC:
                phrase = r.choices(vocab, weights, k=r.randint(3, 6))
                d["words"] = phrase * r.randint(15, 30)
                plan["spam"].append(i)
            elif roll < SPAM_FRAC + SHORT_FRAC:
                d["words"] = r.choices(vocab, weights, k=r.randint(5, 40))
                plan["short"].append(i)
            else:
                d["words"] = r.choices(vocab, weights, k=r.randint(60, 250))
            d["payload"] = _html_payload(r, d["words"])
        else:
            d["payload"] = r.randbytes(r.randint(256, 4096))
        docs.append(d)
    clean = [i for i, d in enumerate(docs)
             if d["mime"] == "text/html" and d["status"] == "200" and not d["truncated"]
             and not d["empty"] and not d["bad_digest"] and d["dirty"] >= 0.02
             and i not in set(plan["spam"]) | set(plan["short"])]
    while len(docs) < N_LINES:
        i = len(docs)
        r = random.Random(f"{seed}:{i}")
        src = r.choice(clean)
        d = dict(docs[src], dirty=1.0)
        if len(plan["exact"]) < N_LINES * EXACT_FRAC:
            plan["exact"].append((src, i))
        else:
            words = list(docs[src]["words"])
            for k in r.sample(range(len(words)), max(1, int(len(words) * NEAR_EDIT))):
                words[k] = r.choices(vocab, weights)[0]
            d.update(words=words, payload=_html_payload(r, words))
            plan["near"].append((src, i))
        docs.append(d)

    warc_names = [f"crawl-data/CC-BENCH/segments/seg{k % 3}/warc/CC-BENCH-{k:05d}.warc.gz"
                  for k in range(N_WARC_FILES)]
    warcs = [bytearray() for _ in range(N_WARC_FILES)]
    files: list[list[str]] = [[] for _ in range(N_INDEX_FILES)]
    payloads = {}
    for i, d in enumerate(docs):
        host = f"h{d['host']}.example"
        url = f"https://{host}/doc/{i:06d}.html"
        payload = b"" if d["empty"] else d["payload"]
        digest = sha1_b32(payload)
        if d["bad_digest"]:
            digest = ("X" if digest[0] != "X" else "Y") + digest[1:]
        member = make_warc_member(url, d["mime"], payload)
        k = i % N_WARC_FILES
        rec = {"url": url, "mime": d["mime"].upper() if i % 10 == 3 else d["mime"],
               "mime-detected": d["mime"], "status": d["status"], "digest": digest,
               "length": str(len(member)), "offset": str(len(warcs[k])),
               "filename": warc_names[k], "charset": "UTF-8", "languages": "eng"}
        if d["truncated"]:
            rec["truncated"] = "length"
        warcs[k].extend(member)
        payloads[url] = payload
        surt = f"example,h{d['host']})/doc/{i:06d}.html"
        line = f"{surt} 20230101120000 {json.dumps(rec, separators=(',', ': '))}"
        if d["dirty"] < 0.005:
            line = f"{surt}20230101120000{json.dumps(rec)}"  # no spaces: dropped
        elif d["dirty"] < 0.010:
            line += " trailing-garbage-after-json"  # repaired
        elif d["dirty"] < 0.015:
            line = f"{surt} 20230101120000 {{not valid json"  # dropped
        elif d["dirty"] < 0.020:
            files[i % N_INDEX_FILES].append("   ")  # blank line, skipped
        files[i % N_INDEX_FILES].append(line)

    os.makedirs(os.path.join(root, "indexes"))
    os.makedirs(os.path.join(root, "warcs"))
    index_paths = []
    for k, lines in enumerate(files):
        p = os.path.join(root, "indexes", f"cdx-{k:05d}.gz")
        with gzip.GzipFile(p, "wb", mtime=0) as gz:
            gz.write(("\n".join(lines) + "\n").encode())
        index_paths.append(p)
    for k, name in enumerate(warc_names):
        with open(os.path.join(root, "warcs", os.path.basename(name)), "wb") as f:
            f.write(bytes(warcs[k]))
    return {"index_paths": index_paths, "lines": [ln for f in files for ln in f],
            "payloads": payloads, "plan": plan,
            "urls": [f"https://h{d['host']}.example/doc/{i:06d}.html"
                     for i, d in enumerate(docs)]}


# ------------------------------------------------------------------- truth
def _json_obj(s: str) -> dict | None:
    try:
        obj = json.loads(s)
    except ValueError:
        return None
    return obj if isinstance(obj, dict) and set(obj) <= KNOWN_KEYS else None


def parse_line(line: str) -> dict | None:
    """`{surt} {ts} {json}` with the reference's repair rule: on invalid
    JSON retry every prefix that ends at a '}', longest first."""
    a = line.find(" ")
    b = line.find(" ", a + 1)
    if b < 0:
        return None
    tail = line[b + 1 :]
    rec = _json_obj(tail)
    if rec is not None:
        return rec
    for e in reversed([i for i, c in enumerate(tail) if c == "}"]):
        rec = _json_obj(tail[: e + 1])
        if rec is not None:
            return rec
    return None


def rewrite(digest: str, pattern: str = PATTERN) -> str:
    """'xx/xx/xxx' → d[0:2]/d[2:4]/d (the target-path rule)."""
    out, start, hits = [], 0, 0
    for i, c in enumerate(pattern):
        if c == "/":
            cut = i - hits
            hits += 1
            out += [digest[start:cut], "/"]
            start = cut
    return "".join(out) + digest if out else digest


def spans_of(url: str, mime_detected: str | None, payload: bytes) -> tuple:
    if (mime_detected or "").lower().startswith("text/"):
        spans = []
        for seg in payload.decode("utf-8", errors="replace").split("\n\n"):
            m = re.match(r"^\[\[MEDIA:(\d+)\]\]$", seg)
            if m:
                d = hashlib.sha256(f"{url}#media{m.group(1)}".encode()).hexdigest()
                spans.append(("media", None, rewrite(d), len(spans)))
            else:
                spans.append(("text", seg, None, len(spans)))
        return tuple(spans)
    return (("media", None, rewrite(hashlib.sha256(payload).hexdigest()), 0),)


def fetch_truth(corpus: dict) -> dict:
    """Expected docs and Observation counters, from the raw index lines."""
    docs = {}
    counters = dict(fetchable_records=0, empty_payload=0, digest_mismatch=0, read_errors=0)
    for line in corpus["lines"]:
        rec = parse_line(line) if line.strip() else None
        if rec is None or rec.get("status") != "200":
            continue
        if rec.get("mime-detected") not in WANTED_MIMES:
            continue
        if (rec.get("truncated") or "").strip():
            continue  # truncated-log branch, not extracted
        counters["fetchable_records"] += 1
        payload = corpus["payloads"][rec["url"]]
        if not payload:
            counters["empty_payload"] += 1
            continue
        sha1 = base64.b32encode(hashlib.sha1(payload).digest()).decode("ascii")
        if sha1 != rec.get("digest"):
            counters["digest_mismatch"] += 1
        docs[rec["url"]] = spans_of(rec["url"], rec.get("mime-detected"), payload)
    return {"docs": docs, "counters": counters}


def text_of(spans: tuple) -> str:
    return "\n".join(s[1] for s in sorted(spans, key=lambda s: s[3]) if s[0] == "text")


def n_tokens(text: str) -> int:
    return len(re.split(r"\s+", text.strip(" ")))


def read_docs(path: str) -> dict:
    import pyarrow.parquet as pq

    out = {}
    for row in pq.read_table(path).to_pylist():
        spans = sorted(row["spans"], key=lambda s: s["offset"])
        out[row["doc_id"]] = tuple(
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans)
    return out


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, default=list).encode()).hexdigest()


# ---------------------------------------------------------------- workload
class FetchPrepWorkload:
    min_ops = 1
    checkpoint_names: dict = {}

    @staticmethod
    def task_slots(box: int) -> int:
        """Half the box's cores. A pandas-UDF task keeps a Python worker
        busy next to its JVM task thread, so local[nproc] runs about twice
        as many busy processes as there are cores, beside the driver's
        Python and the JVM's JIT and GC threads; on a shared host the op
        then waits on the OS scheduler (with one competing busy process,
        an op took 30-50% longer at nproc slots and 4-10% at nproc/2)."""
        return max(1, box // 2)

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.results: list[dict] = []
        self._rep = 0

    def _prepare(self, tag: str) -> None:
        from commoncrawl_fetcher_lite_spark.config import ExtractorConfig
        from commoncrawl_fetcher_lite_spark.fixtures import warc_local_path

        root = os.path.join(self.work, "data", f"corpus-{tag}")
        self.corpus = generate(root, self.seed)
        self.cfg = ExtractorConfig(index_paths=tuple(self.corpus["index_paths"]),
                                   selector=SELECTOR, target_path_pattern=PATTERN)
        # WARC keys resolve to local files through a path resolver: a
        # FetchConfig(kind="fs") fetcher cannot serve relative keys via
        # run_fetch (it prefixes them with "/" and the fs resolver then
        # drops its base path)
        self.resolver = functools.partial(warc_local_path, root)

    def setup(self) -> None:
        """Generate the corpus, derive the truth the output must match and
        land the docs once through ``run_fetch``. That first fetch is the
        warm-up of the fetch path (Python workers, the extraction UDF,
        parquet writers), so its cost counts in the set-up time."""
        self._rep += 1
        tag = f"setup{self._rep}"
        self._prepare(tag)
        self.truth = fetch_truth(self.corpus)
        self.setup_docs = self._fetch(tag, OpTimer(None, False))[0]

    def warmup(self) -> None:
        """The corpus-prep operators, untimed, over the docs the last
        set-up landed."""
        self._prep(self.setup_docs, "warm", OpTimer(None, False))

    def _fetch(self, tag: str, stage) -> tuple[str, object, dict]:
        """``run_fetch`` and land its docs as parquet: (docs path,
        Observation, row counts of a traced op)."""
        from commoncrawl_fetcher_lite_spark.plans.fetch_pipeline import run_fetch

        docs_path = os.path.join(self.work, "data", f"docs-{tag}")
        with stage("fetch.run_fetch"):
            res = run_fetch(self.spark, self.cfg, self.resolver)
        stats = self._trace_select(res, stage) if stage.traced else {}
        with stage("warc.extract"):
            res.docs.write.mode("overwrite").parquet(docs_path)
        return docs_path, res.metrics["observation"], stats

    def _prep(self, docs_path: str, tag: str, stage) -> tuple[str, dict]:
        """The corpus-prep operators over landed docs: (packed path, row
        counts of a traced op)."""
        from pyspark.sql import functions as F

        from commoncrawl_fetcher_lite_spark.operators.dedup import (
            dedup_clusters,
            exact_dedup,
            minhash_lsh_candidates,
            shingle_frame,
            verify_jaccard,
        )
        from commoncrawl_fetcher_lite_spark.operators.packing import pack_sequences
        from commoncrawl_fetcher_lite_spark.operators.spans import spans_text
        from commoncrawl_fetcher_lite_spark.operators.text import (
            gopher_gate,
            repetition_signals,
        )

        traced = stage.traced
        packed_path = os.path.join(self.work, "data", f"packed-{tag}")
        docs = self.spark.read.parquet(docs_path)
        with stage("spans"):
            text = docs.select("doc_id", spans_text("spans", sep="\n").alias("text"))
            if traced:
                text = text.localCheckpoint(eager=True)
        with stage("text.gate"):
            rep = repetition_signals(text).where(F.col("rep_pass")).select("doc_id")
            gated = (text.where(gopher_gate("text")).join(rep, "doc_id", "left_semi")
                     .localCheckpoint(eager=True))
        with stage("dedup.lsh"):
            keep = exact_dedup(gated).select(F.col("keep_id").alias("doc_id"))
            unique = gated.join(keep, "doc_id", "left_semi").localCheckpoint(eager=True)
            sh = shingle_frame(unique)
            pairs = minhash_lsh_candidates(unique, shingles=sh)
            if traced:
                pairs = pairs.localCheckpoint(eager=True)
            verified = verify_jaccard(pairs, unique, threshold=JACCARD, shingles=sh)
            clusters = dedup_clusters(verified, docs=unique)
            kept = unique.join(
                clusters.where(F.col("cluster_id") == F.col("doc_id")).select("doc_id"),
                "doc_id", "left_semi",
            ).localCheckpoint(eager=True)
        with stage("packing"):
            pack_sequences(kept, seq_len=SEQ_LEN).write.mode("overwrite").parquet(packed_path)
        stats = {}
        if traced:
            with stage("trace.count"):
                stats = dict(docs_in=text.count(), gated=gated.count(),
                             unique=unique.count(), candidate_pairs=pairs.count(),
                             verified=verified.count(), kept=kept.count())
        return packed_path, stats

    def _trace_select(self, res, stage) -> dict:
        """Traced only: materialize the pre-fetch branch on its own so the
        index scan and selection get a span and row counts."""
        from commoncrawl_fetcher_lite_spark.sources.cdx import (
            expand_index_paths,
            parse_cdx,
            read_cdx_lines,
        )

        with stage("fetch.select"):
            selected = res.would_extract.count()
        with stage("trace.count"):
            lines = read_cdx_lines(self.spark, expand_index_paths(list(self.cfg.index_paths)))
            return {"cdx.lines": lines.count(), "cdx.records": parse_cdx(lines).count(),
                    "selected": selected}

    def op(self, i: int, timer) -> dict:
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        docs_path, obs, stats = self._fetch(str(i), timer)
        fetch_s = time.perf_counter() - t0
        packed_path, prep_stats = self._prep(docs_path, str(i), timer)
        wall = time.perf_counter() - t0
        n_docs = pq.ParquetDataset(docs_path).read(columns=["doc_id"]).num_rows
        return {"docs_path": docs_path, "packed_path": packed_path, "obs": obs,
                "stats": {**stats, **prep_stats}, "items": n_docs, "timed_s": wall,
                "fetch_s": fetch_s, "prep_s": wall - fetch_s}

    def after_op(self, i: int, out: dict) -> None:
        import pyarrow.parquet as pq

        docs = read_docs(out["docs_path"])
        packed = sorted(pq.read_table(out["packed_path"]).to_pylist(),
                        key=lambda r: r["doc_id"])
        n_seqs = max(r["seq_last"] for r in packed) + 1
        self.results.append({
            "docs": docs if i == 0 else None,
            "packed": packed if i == 0 else None,
            "digest": _digest([sorted(docs.items()), packed]),
            "counters": {k: int(v) for k, v in out["obs"].get.items()},
            "bytes": dir_bytes(out["docs_path"]) + dir_bytes(out["packed_path"]),
            "n_docs": len(docs),
            "fill": sum(r["n_tokens"] for r in packed) / (n_seqs * SEQ_LEN),
            "stats": out["stats"],
            "fetch_s": out["fetch_s"], "prep_s": out["prep_s"],
        })
        shutil.rmtree(out["docs_path"])
        shutil.rmtree(out["packed_path"])

    # ------------------------------------------------------------- checks
    def finish(self):
        t = self.truth
        first = self.results[0]
        got = first["docs"]
        bad = [u for u in t["docs"] if got.get(u) != t["docs"][u]]
        checks = [
            ("doc count == truth", len(got) == len(t["docs"]),
             f"got {len(got)} want {len(t['docs'])}"),
            ("span sequences == truth", not bad and set(got) == set(t["docs"]),
             f"{len(bad)} docs differ e.g. {bad[:2]}"),
            ("observation counters == truth",
             all(r["counters"] == t["counters"] for r in self.results),
             f"got {first['counters']} want {t['counters']}"),
        ]
        texts = {u: text_of(s) for u, s in got.items()}
        kept = [r["doc_id"] for r in first["packed"]]
        kept_set = set(kept)
        groups: dict[str, list[str]] = {}
        for u, txt in texts.items():
            if txt:
                groups.setdefault(txt, []).append(u)
        dup_kept = [g for g in groups.values()
                    if len(g) > 1 and not kept_set & set(g) <= {min(g)}]
        n_planted = sum(1 for s, c in self.corpus["plan"]["exact"]
                        if self.corpus["urls"][c] in got)
        checks.append(("exact duplicates removed (the min id of a group survives)",
                       not dup_kept, f"{n_planted} planted copies landed; "
                       f"{len(dup_kept)} groups keep a non-min member"))
        urls = self.corpus["urls"]
        near = [urls[c] for s, c in self.corpus["plan"]["near"]
                if urls[c] in got and urls[s] in got]
        removed = sum(1 for u in near if u not in kept_set)
        checks.append((f"planted near duplicates removed (>= {MIN_NEAR_REMOVED:.0%})",
                       bool(near) and removed >= MIN_NEAR_REMOVED * len(near),
                       f"{removed}/{len(near)} removed"))
        spam = {urls[i] for i in self.corpus["plan"]["spam"]} & set(got)
        checks.append(("spam docs gated out", bool(spam) and not kept_set & spam,
                       f"{len(kept_set & spam)} of {len(spam)} landed spam docs kept"))
        acc, offsets_ok = 0, True
        for r in first["packed"]:
            offsets_ok &= r["offset"] == acc and r["n_tokens"] == n_tokens(texts[r["doc_id"]])
            acc += r["n_tokens"]
        want_tokens = sum(n_tokens(texts[u]) for u in kept)
        checks.append(("packed token totals conserved", acc == want_tokens and offsets_ok,
                       f"packed {acc} tokens, kept docs hold {want_tokens}; "
                       f"contiguous offsets {offsets_ok}"))
        digests = {r["digest"] for r in self.results}
        checks.append(("every op lands and packs the same output", len(digests) == 1,
                       f"{len(digests)} distinct over {len(self.results)} ops"))
        return checks, first["digest"]

    # ------------------------------------------------------------ metrics
    def out_bytes_per_item(self) -> float:
        """Bytes of landed docs plus packed output per landed doc."""
        return self.results[0]["bytes"] / self.results[0]["n_docs"]

    def named(self, ops: list[dict]) -> dict:
        docs = sum(r["n_docs"] for r in self.results)
        return {
            "fetch_docs_per_s": (docs / sum(r["fetch_s"] for r in self.results), "doc/s"),
            "prep_docs_per_s": (docs / sum(r["prep_s"] for r in self.results), "doc/s"),
            "pipeline_docs_per_s": (docs / sum(o["timed_s"] for o in ops), "doc/s"),
            "ops": (len(ops), "count"),
        }

    def layers(self, tracer, folded: dict, ops: list[dict], cores: int) -> dict:
        from layertrace import per_span_event_metrics, span_totals, unit_of

        rows = []
        for o in (o for o in ops if o["traced"]):
            i = o["i"]
            tot = span_totals(tracer.op_spans(i))
            res = self.results[i]
            st = res["stats"]
            stages = [s for s in folded["stages"].values()
                      if s["desc"] == f"perfbench:{i}:warc.extract"]
            ext = max(stages, key=lambda s: s["executor_s"])
            c = res["counters"]
            r = {
                "fetch.plan_s": tot["fetch.run_fetch"],
                "select_s": tot["fetch.select"],
                "cdx.lines": st["cdx.lines"],
                "cdx.parse_keep_ratio": st["cdx.records"] / st["cdx.lines"],
                "selector.pass_ratio": st["selected"] / st["cdx.records"],
                "warc.extract_s": tot["warc.extract"],
                "warc.stages": len(stages),
                "warc.tasks": ext["tasks"],
                "warc.max_task_share": ext["max_task_s"] / ext["wall_s"] if ext["wall_s"] else 1.0,
                "warc.empty_payload": c["empty_payload"],
                "warc.digest_mismatch": c["digest_mismatch"],
                "warc.read_errors": c["read_errors"],
                "spans.s": tot["spans"],
                "text.gate_s": tot["text.gate"],
                "text.gate_pass_ratio": st["gated"] / st["docs_in"],
                "dedup.lsh_s": tot["dedup.lsh"],
                "dedup.exact_removed": st["gated"] - st["unique"],
                "dedup.candidate_pairs": st["candidate_pairs"],
                "dedup.verified_ratio": st["verified"] / max(st["candidate_pairs"], 1),
                "dedup.kept": st["kept"],
                "packing.s": tot["packing"],
                "packing.fill_ratio": res["fill"],
            }
            ev = per_span_event_metrics(folded, [i], cores, tot)
            for span in ("fetch.select", "warc.extract", "spans", "text.gate", "dedup.lsh",
                         "packing"):
                # checkpoints inside a stage run as its child span
                parts = [t for name, t in ev.items() if name in (span, span + ".ckpt")]
                for key in ("executor_s", "shuffle_write_bytes", "shuffle_read_bytes",
                            "spill_bytes", "tasks", "jobs"):
                    r[f"{span}.{key}"] = sum(t[key] for t in parts)
                r[f"{span}.busy_ratio"] = r[f"{span}.executor_s"] / (tot[span] * cores)
            rows.append(r)
        out = {}
        for k in sorted({k for r in rows for k in r}):
            out[k] = (median([r[k] for r in rows if k in r]), unit_of(k))
        return out
