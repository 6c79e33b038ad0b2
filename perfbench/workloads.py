"""The benchmark workloads, their seeded inputs and output checks.

Inputs are synthesized in plain Python and written with pyarrow before the
Spark session starts, so input synthesis never counts towards ``setup_s``
or a timed run.  The engine is driven only through its public functions.
See ``perfbench/NOTES.md`` for why each workload exists.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import random
import shutil
import statistics
import time
from collections import defaultdict
from typing import NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from data_caterer_spark.fixtures import TRANSCRIPT_DDL, generate_transcripts
from data_caterer_spark.functions import text as T
from data_caterer_spark.functions import textcore as tc
from data_caterer_spark.functions.langid import default_model as default_langid
from data_caterer_spark.functions.perplexity import default_model as default_ppl
from data_caterer_spark.functions.scoring import with_model_scores
from data_caterer_spark.functions.scrub import scrub_columns
from data_caterer_spark.labeler import ReferenceLabeler
from data_caterer_spark.operators import dedup as D
from data_caterer_spark.operators.windows import with_turn_order_features
from data_caterer_spark.plans.pipeline import QualityFilterPipeline
from data_caterer_spark.sources.manifest import ResumableRunner

from spans import Tracer, group_counts, job_group, persisted_rdds

# Every input is written as this many equal parquet files and read with
# ``spark.sql.files.minPartitionNum`` pinned to it, so each file is one
# input partition whatever the host's core count.
INPUT_FILES = 8

OUT_COLS = ["conv_id", "turn_idx", "keep", "rule_hits", "scrubbed_text"]

TURN_ARROW = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

PIPELINE_LAYERS = [
    "spark.scan_s",
    "functions.text.exec_s",
    "operators.windows.exec_s",
    "functions.scoring.exec_s",
    "operators.rules.exec_s",
    "functions.scrub.exec_s",
]


def digest_aggs():
    """Row count plus an order-independent digest of the output columns;
    cheap enough to ride the timed action as an ``Observation``."""
    h = F.xxhash64(*OUT_COLS).cast("decimal(38,0)")
    return [F.count(F.lit(1)).alias("rows"), F.sum(h).alias("digest")]


def _obs_value(obs: Observation) -> tuple[int, int]:
    got = obs.get
    return int(got["rows"]), int(got["digest"] or 0)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class Check(NamedTuple):
    """Outcome of one checked operation."""

    name: str
    ok: bool
    detail: str = ""


class Workload:
    """One seeded input and the complete job the benchmark times on it.

    ``run_once`` is one complete job; given a tracer it also records spans
    around the calls it makes into the engine, under the root span
    ``root_span`` that ``traced`` opens.  ``layer_metrics`` turns one traced
    run into per-layer numbers, adds the checks of any further jobs it runs
    to ``checks``, and returns the seconds the layers account for.
    """

    root_span = ""
    warmup_runs = 0  # untimed runs of the job between set-up and timing

    def __init__(self, seed: int, work: str, cores: int):
        self.seed, self.work, self.cores = seed, work, cores
        self.extra: dict = {}

    def traced(self, spark, tracer: Tracer, sampler) -> tuple[dict, list[Check]]:
        """The warm-up runs, one untraced and one traced run of the same
        job, then the workload's layer breakdown."""
        sc = spark.sparkContext
        checks: list[Check] = []
        for i in range(self.warmup_runs):
            checks.append(self.run_once(spark, f"warmup{i}"))
        spark.catalog.clearCache()
        untraced_s = timed(lambda: checks.append(self.run_once(spark, "untraced")))
        spark.catalog.clearCache()
        tracer.run_id = "traced"
        with job_group(sc, tracer.run_id) as group, tracer.span(self.root_span) as root:
            checks.append(self.run_once(spark, "traced", tracer))
        run_s = root["end"] - root["start"]
        counts = group_counts(sc, group)
        busy, tail = sampler.occupancy(root["start"], root["end"], self.cores)
        m = {
            "spark.jobs": counts["jobs"],
            "spark.stages": counts["stages"],
            "spark.failed_tasks": counts["failed_tasks"],
            "spark.tasks_per_row": counts["tasks"] / self.rows,
            "spark.slot_busy_frac": busy,
            "spark.tail_s": tail,
            "spark.persisted_rdds_after": persisted_rdds(sc),
            "trace.run_s": run_s,
            "trace.overhead_s": run_s - untraced_s,
        }
        tracer.run_id = "layers"
        layers, accounted_s = self.layer_metrics(spark, tracer, root, counts, checks)
        m.update(layers)
        m["trace.accounted_frac"] = accounted_s / run_s
        return m, checks


# --------------------------------------------------------------------------
# transcripts
# --------------------------------------------------------------------------


class ChatNoop(Workload):
    """Seeded transcripts through ``QualityFilterPipeline`` into a noop
    sink.  The traced run also drives the shipped write path,
    ``ResumableRunner``, over the same input.

    The rows equal ``fixtures.generate_transcripts_distributed(spark,
    n_convs, seed, convs_per_task=n_convs // INPUT_FILES)`` (chunk ``c`` is
    ``generate_transcripts(n, seed + c)``) plus a few long agent sessions,
    each with its own conv_id, that skew the ``conv_id`` exchange.
    """

    n_convs = 12000
    hot_sessions = (2000, 1500, 1000)
    n_groups = 2
    root_span = "plans.pipeline.run"
    # the first run after set-up is still about 20% slower than the rest
    warmup_runs = 1

    # ---- input ---------------------------------------------------------
    def synthesize(self) -> None:
        per = self.n_convs // INPUT_FILES
        self.chunks = [
            generate_transcripts(per, seed=self.seed + c) for c in range(INPUT_FILES)
        ]
        for i, turns in enumerate(self.hot_sessions):
            session = generate_transcripts(0, seed=self.seed + 1000 + i, hot_conv_turns=turns)
            for r in session:
                r["conv_id"] = f"CONVHOT{i:08d}"
            self.chunks[i % INPUT_FILES].extend(session)
        self.input_path = os.path.join(self.work, "input")
        os.makedirs(self.input_path)
        for c, rows in enumerate(self.chunks):
            pq.write_table(
                pa.Table.from_pylist(rows, schema=TURN_ARROW),
                os.path.join(self.input_path, f"part-{c:03d}.parquet"),
            )
        self.rows = sum(len(c) for c in self.chunks)
        # the labeler subset: up to 300 conversations of the first file
        # whose conv_id occurs in no other file
        owner: dict[str, set[int]] = defaultdict(set)
        for c, chunk in enumerate(self.chunks):
            for r in chunk:
                owner[r["conv_id"]].add(c)
        self.labeler_ids = sorted({r["conv_id"] for r in self.chunks[0] if owner[r["conv_id"]] == {0}})[:300]
        chosen = set(self.labeler_ids)
        self.labeler_want = ReferenceLabeler().label_rows(r for r in self.chunks[0] if r["conv_id"] in chosen)

    # ---- set-up's first execution, and the invocation's checks -----------
    def first_execution(self, spark) -> list[Check]:
        """Set-up's first completed execution: the pipeline over the whole
        input.  Its digest, observed before the filter, is the reference
        every later run must reproduce.  The rows it keeps are those of the
        labeler subset (a shared conv_id would merge two conversations'
        windows); keep/drop, rule hits and scrubbed text must equal
        ``ReferenceLabeler`` on them."""
        self.df = spark.read.schema(TRANSCRIPT_DDL).parquet(self.input_path)
        ids, want = self.labeler_ids, self.labeler_want
        obs = Observation("reference")
        got = {
            (r["conv_id"], r["turn_idx"]): r
            for r in QualityFilterPipeline()
            .run(self.df)
            .select(OUT_COLS)
            .observe(obs, *digest_aggs())
            .where(F.col("conv_id").isin(ids))
            .collect()
        }
        self.reference = _obs_value(obs)
        rows = self.reference[0]
        checks = [Check("reference_rows", rows == self.rows, f"{rows} rows for {self.rows}")]
        tp = fp = fn = scrub_eq = hits_eq = 0
        for w in want:
            g = got.get((w.conv_id, w.turn_idx))
            if g is None:
                continue
            tp += g["keep"] and w.keep
            fp += g["keep"] and not w.keep
            fn += w.keep and not g["keep"]
            scrub_eq += g["scrubbed_text"] == w.scrubbed_text
            hits_eq += list(g["rule_hits"]) == w.rule_hits
        n = len(want)
        f1 = 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0
        self.extra.update(keep_f1=f1, scrub_exact_frac=scrub_eq / n, labeler_turns=n)
        ok = len(got) == n and f1 == 1.0 and scrub_eq == n and hits_eq == n
        return checks + [Check("labeler_subset", ok, f"{n} turns, {len(got)} rows, f1={f1}, "
                               f"scrub_eq={scrub_eq}, hits_eq={hits_eq}")]

    def check_digest(self, name: str, got: tuple[int, int]) -> Check:
        ok = got == self.reference
        return Check(name, ok, "" if ok else f"rows/digest {got} != {self.reference}")

    # ---- the timed job ---------------------------------------------------
    def run_once(self, spark, rep, tracer: Tracer | None = None) -> Check:
        obs = Observation(f"run-{rep}")
        with maybe_span(tracer, "plans.pipeline.plan"):
            out = QualityFilterPipeline().run(self.df).select(OUT_COLS).observe(obs, *digest_aggs())
        with maybe_span(tracer, "spark.execute"):
            noop(out)
        return self.check_digest(f"run-{rep}", _obs_value(obs))

    # ---- per-layer numbers -----------------------------------------------
    def layer_metrics(self, spark, tracer, root, counts, checks) -> tuple[dict, float]:
        m = self.prefix_layers(tracer)
        m["plans.pipeline.plan_s"] = tracer.total("plans.pipeline.plan", "traced")
        accounted = sum(m[k] for k in PIPELINE_LAYERS) + m["plans.pipeline.plan_s"]
        m.update(self.write_layers(spark, tracer, checks))
        return m, accounted

    def prefix_layers(self, tracer: Tracer) -> dict[str, float]:
        """Each pipeline layer's time as the increase between forced
        cumulative prefixes, built in the pipeline's own stage order."""
        pipe = QualityFilterPipeline()
        rules = pipe.heuristic_rules()
        stages = [
            ("spark.scan_s", lambda d: d),
            ("functions.text.exec_s", lambda d: T.with_text_features(d, char_run=pipe.config.char_run)),
            ("operators.windows.exec_s", with_turn_order_features),
            ("functions.scoring.exec_s", with_model_scores),
            ("operators.rules.exec_s", lambda d: d.withColumn("heur_hits", rules.hits_column())),
            ("functions.scrub.exec_s", scrub_columns),
        ]
        out, prev, d = {}, 0.0, self.df
        for name, stage in stages:
            d = stage(d)
            with tracer.span(name.rsplit(".", 1)[0] + ".prefix") as span:
                noop(d)
            cum = span["end"] - span["start"]
            out[name] = cum - prev
            prev = cum
        # single-thread kernel calls on the workload's first 10k texts
        texts = [r["text"] for r in itertools.islice(itertools.chain(*self.chunks), 10_000)]
        lm, pm = default_langid(), default_ppl()
        for name, call in (
            ("functions.textcore.langid_us_per_row", lambda: lm.predict(texts)),
            ("functions.textcore.ppl_us_per_row", lambda: pm.score(texts)),
        ):
            out[name] = statistics.median(timed(call) for _ in range(3)) / len(texts) * 1e6
        kernel_core_s = (
            out["functions.textcore.langid_us_per_row"] + out["functions.textcore.ppl_us_per_row"]
        ) * self.rows / 1e6
        # the Arrow crossing plus Python worker cost around the kernels
        out["functions.scoring.overhead_s"] = out["functions.scoring.exec_s"] - kernel_core_s / self.cores
        return out

    # ---- the write path (traced runs only) -------------------------------
    def _runner(self, spark, tag: str) -> ResumableRunner:
        """A runner over fresh, empty output and manifest directories."""
        out, man = (os.path.join(self.work, f"{k}-{tag}") for k in ("out", "manifest"))
        for p in (out, man):
            shutil.rmtree(p, ignore_errors=True)
        return ResumableRunner(spark, out, man, n_groups=self.n_groups)

    def _check_manifest(self, name: str, runner: ResumableRunner) -> Check:
        n = runner.manifest.read().count()
        return Check(name, n == self.n_groups, f"{n} manifest rows for {self.n_groups} groups")

    def write_layers(self, spark, tracer: Tracer, checks: list[Check]) -> dict[str, float]:
        """One traced ``ResumableRunner.run`` into fresh directories, its
        digest summed over one observation per group riding each group's
        write; then the crash-and-resume check."""
        sc = spark.sparkContext
        pipe = QualityFilterPipeline()
        runner = self._runner(spark, "write")
        observations: list[Observation] = []
        planned: list[float] = []

        def fn(part):
            obs = Observation(f"write-g{len(observations)}")
            observations.append(obs)
            with tracer.span("plans.pipeline.plan"):
                out = pipe.run(part).select(OUT_COLS).observe(obs, *digest_aggs())
            planned.append(time.perf_counter())
            return out

        append = runner.manifest.append

        def traced_append(row):
            # the group's write job ran between planning and this call
            tracer.add("sources.manifest.write", planned[-1], time.perf_counter(), tracer.current())
            with tracer.span("sources.manifest.append"):
                append(row)

        runner.manifest.append = traced_append
        spark.catalog.clearCache()
        tracer.run_id = "write"
        with job_group(sc, tracer.run_id) as group, tracer.span("sources.manifest.run") as root:
            runner.run(self.df, fn)
        values = [_obs_value(o) for o in observations]
        checks.append(self.check_digest("write", (sum(v[0] for v in values), sum(v[1] for v in values))))
        checks.append(self._check_manifest("write_manifest", runner))
        run_s = root["end"] - root["start"]
        m = {
            "sources.manifest.run_s": run_s,
            "sources.manifest.append_s": tracer.total("sources.manifest.append", "write"),
            "sources.manifest.jobs_per_group": group_counts(sc, group)["jobs"] / self.n_groups,
        }
        self.extra["write_plan_s"] = tracer.total("plans.pipeline.plan", "write")
        self.extra["write_accounted_frac"] = (
            self.extra["write_plan_s"]
            + tracer.total("sources.manifest.write", "write")
            + m["sources.manifest.append_s"]
        ) / run_s
        self.extra["out_bytes_per_row"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(runner.out_dir)
            for f in files
            if f.endswith(".parquet")
        ) / self.rows
        checks.extend(self.resume_checks(spark, pipe))
        return m

    def resume_checks(self, spark, pipe: QualityFilterPipeline) -> list[Check]:
        """Crash at a middle group, resume with a new runner on the same
        directories, and compare with the reference digest."""

        def fn(part):
            return pipe.run(part).select(OUT_COLS)

        runner = self._runner(spark, "resume")
        crashed = False
        try:
            runner.run(self.df, fn, fail_on_group=self.n_groups // 2)
        except RuntimeError:
            crashed = True
        resumed = ResumableRunner(
            spark, runner.out_dir, runner.manifest.path, n_groups=self.n_groups
        ).run(self.df, fn)
        row = spark.read.parquet(runner.out_dir).select(OUT_COLS).agg(*digest_aggs()).first()
        return [
            Check("resume_crashed", crashed, "" if crashed else "injected failure did not raise"),
            Check(
                "resume_groups",
                resumed == list(range(self.n_groups // 2, self.n_groups)),
                f"resumed groups {resumed}",
            ),
            self._check_manifest("resume_manifest", runner),
            self.check_digest("resume_digest", (int(row["rows"]), int(row["digest"] or 0))),
        ]


# --------------------------------------------------------------------------
# near-duplicate documents
# --------------------------------------------------------------------------

SYLLABLES = "ka lo mi ne ru ta vo pe si du ga ho ji ba ze fu wy qo xi ce".split()


def _vocabulary(n: int) -> list[str]:
    rng = random.Random(0)
    seen: dict[str, None] = {}
    while len(seen) < n:
        seen.setdefault("".join(rng.choice(SYLLABLES) for _ in range(rng.randint(1, 4))))
    return list(seen)


def shingles(text: str, k: int = 3) -> set[str]:
    """Python twin of ``operators.dedup.word_shingles``."""
    toks = tc.tokens_of(text.lower())
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def dedup_oracle(docs: list[tuple[int, str, int]], threshold: float = 0.6) -> set[tuple]:
    """Inverted index -> exact Jaccard >= threshold -> union-find ->
    longest member per cluster (ties to the smaller id)."""
    sets = {d: shingles(t) for d, t, _ in docs}
    index: dict[str, list[int]] = defaultdict(list)
    for d in sorted(sets):
        for s in sets[d]:
            index[s].append(d)
    inter: dict[tuple[int, int], int] = defaultdict(int)
    for ids in index.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                inter[a, b] += 1
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b), n in inter.items():
        if n / (len(sets[a]) + len(sets[b]) - n) >= threshold:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    n_chars = {d: n for d, _, n in docs}
    members: dict[int, list[int]] = defaultdict(list)
    for x in list(parent):
        members[find(x)].append(x)
    out = set()
    for root, ms in members.items():
        rep = max(ms, key=lambda d: (n_chars[d], -d))
        out.add((min(ms), rep, n_chars[rep], len(ms)))
    return out


class DedupDocs(Workload):
    """Word documents with planted near-duplicate copies, copy-of-copy
    chains and one longer path of near-duplicates, through detect ->
    cluster -> representatives."""

    n_docs = 2400
    doc_words = (20, 80)
    dup_frac = 0.15
    vocab_size = 20_000
    zipf_s = 1.0
    max_depth = 2
    # Label propagation in connected_components takes one round per hop
    # from a component's smallest id, plus one round that changes nothing.
    # Ids follow creation order, so a copy tree's root has its smallest id
    # and every member is at most max_depth hops from it.  A planted path
    # of max_depth + 1 documents whose ids rise along it, each a
    # near-duplicate of the next but not of the one after, makes that the
    # longest distance on every seed: 3 rounds.
    path_len = max_depth + 1
    root_span = "operators.dedup.run"
    # runs get faster for the first five or six after set-up (by 40% in
    # all) while the JVM warms up, at any input size tried (1200-4000
    # documents); the first execution and these runs take most of that
    warmup_runs = 3

    def synthesize(self) -> None:
        vocab = _vocabulary(self.vocab_size)
        cum = list(itertools.accumulate(1 / (i + 1) ** self.zipf_s for i in range(len(vocab))))
        rng = random.Random(self.seed)

        def word() -> str:
            return rng.choices(vocab, cum_weights=cum)[0]

        n_dup = int(self.n_docs * self.dup_frac)
        words = [
            rng.choices(vocab, cum_weights=cum, k=rng.randint(*self.doc_words))
            for _ in range(self.n_docs - n_dup - self.path_len)
        ]
        depth = [0] * len(words)
        for _ in range(n_dup):
            src = rng.randrange(len(words))
            while depth[src] >= self.max_depth:
                src = rng.randrange(len(words))
            copy = []
            for w in words[src]:
                r = rng.random()
                if r < 0.01:
                    continue  # delete
                copy.append(word() if r < 0.025 else w)  # substitute
                if r > 0.99:
                    copy.append(word())  # insert
            words.append(copy)
            depth.append(depth[src] + 1)
        texts = [" ".join(w) for w in words] + self._path(rng, vocab, cum)
        self.docs = [(i + 1, t, len(t)) for i, t in enumerate(texts)]
        self.rows = len(self.docs)
        self.expected = dedup_oracle(self.docs)
        self.extra["oracle_clusters"] = len(self.expected)
        self.input_path = os.path.join(self.work, "docs")
        os.makedirs(self.input_path)
        # ids keep creation order; the files hold the documents shuffled
        layout = rng.sample(self.docs, len(self.docs))
        per = -(-self.rows // INPUT_FILES)
        for c in range(INPUT_FILES):
            part = layout[c * per : (c + 1) * per]
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array([d[0] for d in part], pa.int64()),
                        "text": pa.array([d[1] for d in part], pa.string()),
                        "n_chars": pa.array([d[2] for d in part], pa.int64()),
                    }
                ),
                os.path.join(self.input_path, f"part-{c:03d}.parquet"),
            )

    def _path(self, rng, vocab, cum) -> list[str]:
        """``path_len`` documents of 75 words, each with every 15th word
        replaced by a new one (a different offset per step, 3 apart, so no
        3-shingle is hit twice): Jaccard about 0.66 to the next document
        and 0.42 to the one after."""
        path = [rng.choices(vocab, cum_weights=cum, k=75)]
        for step in range(1, self.path_len):
            off = 3 * (step - 1)
            path.append([f"p{step}w{j}" if j % 15 == off else w for j, w in enumerate(path[-1])])
        texts = [" ".join(p) for p in path]
        sets = [shingles(t) for t in texts]

        def jaccard(a, b):
            return len(a & b) / len(a | b)

        assert all(jaccard(a, b) >= 0.6 for a, b in zip(sets, sets[1:]))
        assert all(jaccard(a, b) < 0.6 for a, b in zip(sets, sets[2:]))
        return texts

    def first_execution(self, spark) -> list[Check]:
        """Set-up's first completed execution: one checked run of the job."""
        return [self.run_once(spark, "first")]

    def run_once(self, spark, rep, tracer: Tracer | None = None) -> Check:
        docs = spark.read.parquet(self.input_path)
        if tracer is None:
            pairs = D.ngram_jaccard_pairs(docs, k=3, threshold=0.6, max_block=1000)
            labels = D.connected_components(pairs)
            got = {tuple(r) for r in D.cluster_representatives(labels, docs).collect()}
        else:
            # the posting build and the hot-shingle probe run inside
            # ngram_jaccard_pairs; the pair join is forced here too, so
            # that connected_components starts from materialized pairs
            sc = spark.sparkContext
            with tracer.span("operators.dedup.pairs"):
                pairs = D.truncate_lineage(
                    D.ngram_jaccard_pairs(docs, k=3, threshold=0.6, max_block=1000)
                )
            self.extra["pairs"] = pairs.count()
            jobs_before = len(sc.statusTracker().getJobIdsForGroup(tracer.run_id))
            with tracer.span("operators.dedup.cc"):
                labels = D.connected_components(pairs)
            self.extra["cc_jobs"] = len(sc.statusTracker().getJobIdsForGroup(tracer.run_id)) - jobs_before
            with tracer.span("operators.dedup.reps"):
                got = {tuple(r) for r in D.cluster_representatives(labels, docs).collect()}
        ok = got == self.expected
        return Check(f"run-{rep}", ok, "" if ok else f"{len(got)} clusters, oracle "
                     f"{len(self.expected)}, {len(got ^ self.expected)} differ")

    def layer_metrics(self, spark, tracer, root, counts, checks) -> tuple[dict, float]:
        m = {
            "operators.dedup.pairs_s": tracer.total("operators.dedup.pairs"),
            "operators.dedup.pairs": self.extra["pairs"],
            "operators.dedup.cc_s": tracer.total("operators.dedup.cc"),
            "operators.dedup.cc_jobs": self.extra["cc_jobs"],
            "operators.dedup.reps_s": tracer.total("operators.dedup.reps"),
            "operators.dedup.clusters": self.extra["oracle_clusters"],
        }
        return m, m["operators.dedup.pairs_s"] + m["operators.dedup.cc_s"] + m["operators.dedup.reps_s"]


def maybe_span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


WORKLOADS = {"chat_noop": ChatNoop, "dedup_docs": DedupDocs}
