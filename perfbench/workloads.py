"""Workload definitions: the job mix of one pass, and what each job's
output is checked against.

A job is a builder call plus an action. For a registered query the
builder is the query function ``(spark, dir) -> DataFrame`` and the
action collects the result to the driver. A ``run_mapred`` call is a
single engine call, so it is all action.
"""

from __future__ import annotations

import hashlib
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import gen
from check import (
    Oracle,
    compare_json,
    expected_inverted_index,
    expected_wordcount,
    tokens,
)

# stream_tumbling_counts is a streaming rollup, not an LLM operator: it
# rides in this mix so that a benchmark workload measures the streaming
# replay, whose whole cost sits in the query builder.
LLM_QUERIES = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_ann_ivf",
    "similarity_topk_bruteforce",
    "text_quality_scores",
    "tfidf_top_terms",
    "pipeline_corpus_clean",
    "stream_tumbling_counts",
)
MAPRED_JOBS = (
    "wordcount_dir",
    "inverted_index_dir",
    "wordcount_file",
    "inverted_index_file",
    "wordcount_string",
    "inverted_index_string",
    "python_app",
)
WORKLOADS = ("mapred", "llm-repeat", "llm-refresh")
# Warm pass time on 4 cores; sets how many warm passes fill --seconds.
NOMINAL_PASS_S = {"mapred": 3.8, "llm-repeat": 6.5, "llm-refresh": 9.0}
# Passes run after the cold pass and left out of the warm metrics: on 4
# cores the first two warm passes of the LLM operators still run 10-30%
# slower than the third while the JIT catches up. mapred's first warm
# pass is slower too, but the median of its four passes leaves it out.
WARMUP_PASSES = {"mapred": 0, "llm-repeat": 1, "llm-refresh": 1}


@dataclass
class Job:
    name: str
    layer: str  # operators | streaming | plans.builtin | plans.python_app
    build: Callable[[], object]
    action: Callable[[object], object]
    check: Callable[[object], str | None]


def _word_lengths_app():
    """The user-registered pure-Python application: a histogram of
    token lengths. Defined in a factory so Spark ships the functions by
    value to its Python workers."""

    def mapper(text, filename):
        return [(len(w), 1) for w in "".join(c if c.isalpha() else " " for c in text.lower()).split()]

    def reducer(key, values):
        return sum(values)

    return mapper, reducer


class Workload:
    """The jobs of one workload over its generated inputs in ``data``."""

    def __init__(self, name: str, seed: int, data: Path, live: Path, spark, queries):
        self.name = name
        self.seed = seed
        self.data = data
        self.live = live
        self.spark = spark
        self.queries = queries
        self.version = 0
        self._oracles: dict[int, Oracle] = {}
        self.jobs = self._mapred_jobs() if name == "mapred" else self._llm_jobs()

    # -- inputs --------------------------------------------------------

    def before_pass(self, k: int) -> None:
        """llm-refresh: overwrite documents and embeddings at the same
        path with the k-th seeded variant before pass k (not timed)."""
        if self.name != "llm-refresh" or k == self.version:
            return
        src = self.data / f"v{k}"
        if not (src / "embeddings.parquet").exists():
            gen.llm_tables(self.seed, src, variant=k, tables=("documents", "embeddings"))
        for t in ("documents", "embeddings"):
            shutil.copyfile(src / f"{t}.parquet", self.live / f"{t}.parquet")
        self.version = k

    def scans(self) -> list[Callable[[], object]]:
        """DataFrames over each input, for the noop scan of ``sources``."""
        from mapreducegcp_spark.sources.catalog import docs_from_dir, load_table

        live = self.live
        if self.name == "mapred":
            return [
                lambda: docs_from_dir(self.spark, str(live / "docs")),
                lambda: docs_from_dir(self.spark, str(live / "big.txt")),
            ]
        return [
            (lambda t=t: load_table(self.spark, str(live), t))
            for t in ("documents", "embeddings", "events")
        ]

    def oracle(self) -> Oracle:
        if self.version not in self._oracles:
            self._oracles[self.version] = Oracle(self.live, self.data / "oracle" / f"v{self.version}")
        return self._oracles[self.version]

    def close(self) -> None:
        for o in self._oracles.values():
            o.close()

    # -- job mixes -----------------------------------------------------

    def _llm_jobs(self) -> list[Job]:
        from mapreducegcp_spark.operators.similarity import q_similarity_ann_ivf

        d = str(self.live)
        jobs = []
        for name in LLM_QUERIES:
            rq = self.queries[name]
            # similarity_ann_ivf runs its raw ANN plan, as bench.py times
            # it; its output is checked through the registered recall gate
            fn = q_similarity_ann_ivf if name == "similarity_ann_ivf" else rq.fn
            jobs.append(
                Job(
                    name=name,
                    layer="streaming" if "streaming" in rq.tags else "operators",
                    build=lambda fn=fn: fn(self.spark, d),
                    action=lambda df: df.toPandas(),
                    check=lambda out, rq=rq: self._check_query(rq, out),
                )
            )
        return jobs

    def _check_query(self, rq, out) -> str | None:
        if rq.name == "similarity_ann_ivf":
            out = rq.fn(self.spark, str(self.live)).toPandas()
        return self.oracle().compare(rq.name, rq.oracle, out)

    def _mapred_jobs(self) -> list[Job]:
        from mapreducegcp_spark.plans.run_mapred import MapReduceEngine

        live = self.live
        engine = MapReduceEngine(self.spark)
        cores = self.spark.sparkContext.defaultParallelism
        uid = engine.init_cluster(cores, cores)
        engine.register_application("WordLengths", *_word_lengths_app())

        def read_dir(p: Path) -> dict[str, str]:
            return {f.name: f.read_text() for f in sorted(p.iterdir())}

        string = (live / "string.txt").read_text()
        inputs = {
            "dir": (str(live / "docs"), lambda: read_dir(live / "docs")),
            "file": (str(live / "big.txt"), lambda: {"big.txt": (live / "big.txt").read_text()}),
            "string": (string, lambda: {"InputString": string}),
        }
        jobs = []
        for mode, (arg, texts) in inputs.items():
            for app, want, postings in (
                ("WordCount", expected_wordcount, False),
                ("InvertedIndex", expected_inverted_index, True),
            ):
                jobs.append(
                    Job(
                        name=f"{'wordcount' if app == 'WordCount' else 'inverted_index'}_{mode}",
                        layer="plans.builtin",
                        build=lambda: None,
                        action=lambda _, arg=arg, app=app: engine.run_mapred(
                            uid, arg, f"{app}Mapper", f"{app}Reducer"
                        ),
                        check=lambda out, want=want, texts=texts, postings=postings: compare_json(
                            out, want(texts()), postings
                        ),
                    )
                )

        def app_want() -> dict[str, int]:
            counts: dict[str, int] = {}
            for text in read_dir(live / "app").values():
                for w in tokens(text):
                    counts[str(len(w))] = counts.get(str(len(w)), 0) + 1
            return counts

        jobs.append(
            Job(
                name="python_app",
                layer="plans.python_app",
                build=lambda: None,
                action=lambda _: engine.run_mapred(uid, str(live / "app"), "WordLengths", "WordLengths"),
                check=lambda out: compare_json(out, app_want()),
            )
        )
        return jobs


def prepare(name: str, seed: int, data: Path) -> None:
    """Generate the inputs of (workload, seed) into ``data`` once per
    version of the generator; the oracle answers cached beside them go
    with them."""
    done = data / ".done"
    stamp = hashlib.sha256(Path(gen.__file__).read_bytes()).hexdigest()
    if done.exists() and done.read_text() == stamp:
        return
    shutil.rmtree(data, ignore_errors=True)
    data.mkdir(parents=True)
    if name == "mapred":
        gen.text_corpus(seed, data / "corpus")
    else:
        gen.llm_tables(seed, data / data.name)
    done.write_text(stamp)


def live_inputs(name: str, data: Path, run_dir: Path) -> Path:
    """The directory the engine reads. The tables directory carries the
    (workload, seed) name because the similarity operators name their
    index artifacts after it. llm-refresh overwrites its tables during
    the run, so it reads a private copy."""
    if name == "mapred":
        return data / "corpus"
    if name == "llm-refresh":
        live = run_dir / data.name
        shutil.copytree(data / data.name, live)
        return live
    return data / data.name
