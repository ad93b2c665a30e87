"""The benchmark's workloads: setup, one timed iteration, output checks
and the per-layer metrics of the traced run.

``kg_build``     a fresh, materialized ``run_kg_pipeline`` into an empty
                 run dir (the production spark-submit path).
``corpus_eval``  the registry's ``dedup_ngram_jaccard`` pair join and the
                 NER evaluation fan-out ``eval_fanout``, each executed
                 and collected.

Each iteration's outputs are checked outside the timed region: the
pipeline's triples against the single-process reference path of
``tools/triple_parity.py`` (restricted to the input's urls), the
registry results against their ``kgkit.oracles`` DuckDB SQL, hashed with
``tools/check_oracles.py``'s normalize/hash.  References are computed
once per run.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
from dataclasses import dataclass, fields
from typing import Dict, List, Optional

from perfbench import eventlog
from perfbench.trace import Tracer, maybe_span, patched

STAGES = ("stage1_mentions", "stage2_linked", "stage3_canonical",
          "stage4_triples", "stage4b_relations")


@dataclass
class Ctx:
    spark: object
    root: str
    sf_dir: str
    work: str
    cpus: int
    tracer: Optional[Tracer] = None


def _load_tool(root: str, name: str):
    path = os.path.join(root, "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"_perfbench_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def part_rows(path: str) -> List[int]:
    """Row count of each parquet part file of a stage checkpoint."""
    import pyarrow.parquet as pq

    return [pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path)) if f.endswith(".parquet")]


def merged(rows: Dict[str, eventlog.LabelRow], labels) -> eventlog.LabelRow:
    """Sum the rows of several labels into one (peak memory: the max)."""
    out = eventlog.LabelRow("+".join(labels))
    for r in filter(None, map(rows.get, labels)):
        for f in fields(out):
            mine, theirs = getattr(out, f.name), getattr(r, f.name)
            if f.name == "peak_execution_memory":
                setattr(out, f.name, max(mine, theirs))
            elif isinstance(mine, dict):
                for k, n in theirs.items():
                    mine[k] = mine.get(k, 0) + n
            elif isinstance(mine, list):
                mine.extend(theirs)
            elif f.name != "label":
                setattr(out, f.name, mine + theirs)
    return out


def _family(tracer: Tracer, it: int, name: str) -> List[str]:
    """Labels of span ``name`` and its descendants in iteration ``it``."""
    top = tracer.find(name, it)
    if top is None:
        return []
    idx = tracer.spans.index(top)
    keep = {idx}
    for i, s in enumerate(tracer.spans):
        if i > idx and s["parent"] in keep:
            keep.add(i)
    return [tracer.label(i) for i in sorted(keep)]


def _dur(span: Optional[dict]) -> float:
    return span["end"] - span["start"] if span else 0.0


def _median_dicts(per_iter: List[Dict[str, float]]) -> Dict[str, float]:
    keys = per_iter[0].keys() if per_iter else []
    return {k: statistics.median(d[k] for d in per_iter) for k in keys}


class KgBuild:
    name = "kg_build"
    pages = 1000

    def _run(self, ctx: Ctx, run_dir: str) -> None:
        from kgkit.plans.stages import run_kg_pipeline

        with maybe_span(ctx.tracer, "run_kg_pipeline"):
            run_kg_pipeline(ctx.spark, ctx.sf_dir, run_dir)

    def setup(self, ctx: Ctx) -> None:
        warm = os.path.join(ctx.work, "runs", "warm")
        self._run(ctx, warm)
        shutil.rmtree(warm)

    def iterate(self, ctx: Ctx, i: int) -> str:
        run_dir = os.path.join(ctx.work, "runs", f"it{i}")
        self._run(ctx, run_dir)
        return run_dir

    def inspect(self, ctx: Ctx, run_dir: str) -> dict:
        """Untimed: read the checkpoints back, then drop the run dir."""
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(run_dir, "stage4_triples"),
                          columns=["subj", "pred", "obj"]).to_pydict()
        triples = set(zip(t["subj"], t["pred"], t["obj"]))
        m = pq.read_table(os.path.join(run_dir, "stage1_mentions"),
                          columns=["url", "char_start", "char_end", "surface"]).to_pydict()
        text = self._texts_by_url(ctx)
        violations = sum(
            text[u][int(cs):int(ce)] != s
            for u, cs, ce, s in zip(m["url"], m["char_start"], m["char_end"], m["surface"]))
        facts = {"triples": triples, "violations": violations,
                 "rows": {st: sum(part_rows(os.path.join(run_dir, st))) for st in STAGES},
                 "part_rows": part_rows(os.path.join(run_dir, "stage4_triples")),
                 "checkpoint_bytes": sum(dir_bytes(os.path.join(run_dir, st))
                                         for st in STAGES)}
        shutil.rmtree(run_dir)
        return facts

    def stored_bytes(self, ctx: Ctx, facts: List[dict]) -> float:
        """Median stage-checkpoint bytes an iteration writes."""
        return statistics.median(f["checkpoint_bytes"] for f in facts)

    def _texts_by_url(self, ctx: Ctx) -> Dict[str, str]:
        if not hasattr(self, "_text"):
            import pyarrow.parquet as pq

            d = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"),
                              columns=["doc_id", "text"]).to_pydict()
            self._text = {f"doc://{i}": t for i, t in zip(d["doc_id"], d["text"])}
        return self._text

    def ner_texts(self, ctx: Ctx) -> List[str]:
        return list(self._texts_by_url(ctx).values())

    def check(self, ctx: Ctx, facts: List[dict]) -> List[str]:
        """One problem string per failed iteration ('' when it passed)."""
        from kgkit.sources import planted

        parity = _load_tool(ctx.root, "triple_parity")
        # the pipeline's input is the documents table alone: no planted pages
        with patched((planted, "planted_ner_docs", lambda: [])):
            ref, ref_violations = parity.reference_triples(ctx.sf_dir)
        out = []
        for f in facts:
            got = f["triples"]
            tp = len(ref & got)
            problems = []
            if got != ref:
                problems.append(f"triple P/R {tp / max(len(got), 1):.4f}/"
                                f"{tp / max(len(ref), 1):.4f}")
            if f["violations"] or ref_violations:
                problems.append(f"byte-identity violations {f['violations']}"
                                f"+{ref_violations}")
            out.append("; ".join(problems))
        return out

    def layer_metrics(self, ctx: Ctx, tr: Tracer, rows,
                      facts: Dict[int, dict]) -> Dict[str, float]:
        per_iter = []
        for it, f in facts.items():
            d: Dict[str, float] = {}
            stage_rows, stage_spans = {}, {}
            for st in STAGES:
                span = tr.find(f"plans.{st}", it)
                r = merged(rows, _family(tr, it, f"plans.{st}"))
                stage_rows[st], stage_spans[st] = r, span
                d[f"plans.{st}.construct_s"] = _dur(tr.find(f"plans.{st}.build", it))
                d[f"plans.{st}.execute_s"] = _dur(span) - d[f"plans.{st}.construct_s"]
                d[f"plans.{st}.jobs"] = r.jobs
                d[f"plans.{st}.uncovered_s"] = eventlog.uncovered_s(
                    r.task_intervals, span["start"], span["end"])
            pipe = tr.find("run_kg_pipeline", it)
            d["plans.pipeline_self_s"] = tr.self_time(tr.spans.index(pipe))
            m = stage_rows["stage1_mentions"]
            d["mentions.python_worker_s"] = m.python_worker_s
            d["mentions.bytes_to_python"] = m.bytes_to_python
            d["mentions.bytes_from_python"] = m.bytes_from_python
            d["mentions.rows_out"] = m.operator_rows.get("MapInPandas", 0)
            d["mentions.core_utilization"] = m.executor_run_s / (
                _dur(stage_spans["stage1_mentions"]) * ctx.cpus)
            r = stage_rows["stage2_linked"]
            d["linking.executor_s"] = r.executor_run_s
            d["linking.shuffle_bytes"] = r.shuffle_write_bytes
            d["linking.link_rate"] = f["rows"]["stage2_linked"] / max(
                f["rows"]["stage1_mentions"], 1)
            r = stage_rows["stage3_canonical"]
            d["canonicalize.executor_s"] = r.executor_run_s
            d["canonicalize.jobs"] = r.jobs
            r = stage_rows["stage4_triples"]
            d["triples.executor_s"] = r.executor_run_s
            d["triples.shuffle_bytes"] = r.shuffle_write_bytes
            parts = f["part_rows"]
            d["triples.partition_skew"] = max(parts) / max(statistics.median(parts), 1)
            d["triples.rows_out"] = f["rows"]["stage4_triples"]
            r = stage_rows["stage4b_relations"]
            d["relations.executor_s"] = r.executor_run_s
            d["relations.jobs"] = r.jobs
            d["relations.rows_out"] = f["rows"]["stage4b_relations"]
            per_iter.append(d)
        return _median_dicts(per_iter)


class CorpusEval:
    name = "corpus_eval"
    pages = 500  # its iteration costs 1.5x kg_build's at 1000 pages
    queries = ("dedup_ngram_jaccard", "eval_fanout")

    def _run(self, ctx: Ctx) -> dict:
        from kgkit.queries import QUERIES

        out = {}
        for q in self.queries:
            with maybe_span(ctx.tracer, q):
                with maybe_span(ctx.tracer, f"{q}.build"):
                    df = QUERIES[q](ctx.spark, ctx.sf_dir)
                with maybe_span(ctx.tracer, f"{q}.execute"):
                    out[q] = df.toPandas()
        return out

    def setup(self, ctx: Ctx) -> None:
        self._run(ctx)

    def iterate(self, ctx: Ctx, i: int) -> dict:
        return self._run(ctx)

    def _digest(self, pdf) -> tuple:
        norm = self._oracle_tool.normalize(pdf)
        return (list(norm.columns), [str(t) for t in norm.dtypes], len(norm),
                self._oracle_tool.value_hash(norm))

    def inspect(self, ctx: Ctx, out: dict) -> dict:
        if not hasattr(self, "_oracle_tool"):
            self._oracle_tool = _load_tool(ctx.root, "check_oracles")
        return {"digests": {q: self._digest(pdf) for q, pdf in out.items()},
                "result_rows": {q: len(pdf) for q, pdf in out.items()}}

    def stored_bytes(self, ctx: Ctx, facts: List[dict]) -> float:
        """The workload writes nothing, so this is the input pages table: it
        keeps the metric defined (and non-zero) on every workload, but no
        change to the program moves it."""
        return os.path.getsize(os.path.join(ctx.sf_dir, "documents.parquet"))

    def ner_texts(self, ctx: Ctx) -> List[str]:
        import pyarrow.parquet as pq

        return pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"),
                             columns=["text"]).column("text").to_pylist()

    def check(self, ctx: Ctx, facts: List[dict]) -> List[str]:
        import duckdb

        from kgkit.oracles import ORACLES

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(ctx.sf_dir, t)}.parquet'")
        ref = {q: self._digest(con.sql(ORACLES[q]).df()) for q in self.queries}
        con.close()
        return ["; ".join(f"{q} differs from its oracle" for q in self.queries
                          if f["digests"][q] != ref[q]) for f in facts]

    def layer_metrics(self, ctx: Ctx, tr: Tracer, rows,
                      facts: Dict[int, dict]) -> Dict[str, float]:
        per_iter = []
        for it, f in facts.items():
            d: Dict[str, float] = {}
            q = "dedup_ngram_jaccard"
            r = merged(rows, _family(tr, it, q))
            cand = max([n for op, n in r.operator_rows.items() if "Join" in op], default=0)
            d["dedup.ngram_jaccard.wall_s"] = _dur(tr.find(q, it))
            d["dedup.ngram_jaccard.shuffle_bytes"] = r.shuffle_write_bytes
            d["dedup.ngram_jaccard.spill_bytes"] = r.spill_disk_bytes
            d["dedup.ngram_jaccard.jobs"] = r.jobs
            d["dedup.ngram_jaccard.candidate_pairs"] = cand
            d["dedup.ngram_jaccard.verify_yield"] = f["result_rows"][q] / max(cand, 1)
            span = tr.find("eval_fanout", it)
            ev = merged(rows, _family(tr, it, "eval_fanout"))
            d["ner_metrics.eval_fanout.wall_s"] = _dur(span)
            d["ner_metrics.jobs"] = ev.jobs
            d["ner_metrics.executor_s"] = ev.executor_run_s
            d["ner_metrics.python_worker_s"] = ev.python_worker_s
            d["ner_metrics.unlabeled_jobs"] = ev.unlabeled_jobs
            d["ner_metrics.uncovered_s"] = eventlog.uncovered_s(
                ev.task_intervals, span["start"], span["end"])
            per_iter.append(d)
        return _median_dicts(per_iter)


WORKLOADS = {w.name: w for w in (KgBuild, CorpusEval)}
