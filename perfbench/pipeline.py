"""The paper's programs as calls into the engine's public functions.

One pass mirrors the first two programs of
``scripts/run_reference_pipeline.py``: the feature-selection program
(ingest, IG top-k, topFeatures and LIBSVM written) and the clustering
program (K-Means k=10, ``output.txt`` lines, D3 JSON).  The
classification program's DT/SVM grid is left out: on 4 cores the full
19-fit grid takes about 70 s a pass and even one fit 3-7 s, more than a
run of the benchmark can spend.  Each phase keeps what the correctness
gate needs; the gate itself runs outside the timed region.

``tracer`` wraps every call into a layer (see ``spans.py``); with
tracing off it only calls the function.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil

from pyspark.sql import functions as F

from big_data_virus_analysis_spark.ml.pipeline import kmeans_assign, to_ml_vectors
from big_data_virus_analysis_spark.operators.features import info_gain_ranking
from big_data_virus_analysis_spark.operators.report import (
    d3_tree,
    report_lines,
    sample_api_structs,
)
from big_data_virus_analysis_spark.operators.vectorize import (
    dense_feature_array,
    doc_vectors,
    libsvm_text,
)
from big_data_virus_analysis_spark.sources.api_logs import api_log_tokens, read_api_logs
from big_data_virus_analysis_spark.sources.sinks import write_report_text

TOP_K = 2000
KMEANS_K = 10


def read_single_text(path: str) -> list[str]:
    """Lines of a single-file Spark text output directory."""
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    lines: list[str] = []
    for p in parts:
        with open(p, encoding="utf-8") as f:
            lines.extend(f.read().splitlines())
    return lines


class Pass:
    """One pass of the paper's programs over a corpus, phase by phase."""

    def __init__(self, spark, corpus, out_dir: str, tracer):
        self.spark = spark
        self.corpus = corpus
        self.out = out_dir
        self.t = tracer
        self.cached = []
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)

    def _cache(self, df):
        self.cached.append(df.cache())
        return df

    def release(self) -> None:
        for df in self.cached:
            df.unpersist(blocking=True)
        self.cached.clear()

    def feature_job(self) -> None:
        t, c = self.t, self.corpus
        raw = self._cache(t.call("sources", "read_api_logs", read_api_logs,
                                 self.spark, c.clean_dir, c.virus_dir))
        doc_cls = raw.select(
            F.concat_ws("/", "class", "file").alias("doc"),
            F.when(F.col("class") == "virus", F.lit("pos")).otherwise(F.lit("neg")).alias("cls"),
        ).distinct()
        toks = t.call("sources", "api_log_tokens", api_log_tokens, raw)
        ranked = self._cache(t.call("operators.features", "info_gain_ranking",
                                    info_gain_ranking, toks, k=TOP_K, doc_classes=doc_cls))
        top = ranked.orderBy("rank").select(
            F.concat(F.lit("("), F.col("token"), F.lit(","),
                     F.col("info_gain").cast("string"), F.lit(")")).alias("line")
        )
        t.call("sources", "write_report_text", write_report_text,
               top, f"{self.out}/topFeatures.txt", single_file=True)
        self.vocab = ranked.select("token", "rank")
        self.n_features = ranked.count()
        self.vectors = self._cache(t.call("operators.vectorize", "doc_vectors",
                                          doc_vectors, toks, self.vocab))
        lines = t.call("operators.vectorize", "libsvm_text", libsvm_text, self.vectors)
        t.call("sources", "write_report_text", write_report_text,
               lines.orderBy("doc"), f"{self.out}/LIBSVMOutput.txt", single_file=True)

    def cluster_report(self) -> None:
        t = self.t
        dense = t.call("operators.vectorize", "dense_feature_array",
                       dense_feature_array, self.vectors, self.n_features)
        self.featured = self._cache(t.call("ml", "to_ml_vectors", to_ml_vectors, dense))
        assigned = t.call("ml", "kmeans_assign", kmeans_assign,
                          self.featured, k=KMEANS_K).select("doc", "cluster", "label", "indices")
        samples = self._cache(t.call("operators.report", "sample_api_structs",
                                     sample_api_structs, assigned, self.vocab,
                                     total_features=self.n_features))
        report = t.call("operators.report", "report_lines", report_lines, samples)
        t.call("sources", "write_report_text", write_report_text,
               report.orderBy("doc").select("line"), f"{self.out}/output.txt",
               single_file=True)
        tree = t.call("operators.report", "d3_tree", d3_tree, samples)
        self.tree_json = t.action("operators.report", "d3_tree.collect",
                                  tree.collect)[0]["tree_json"]


def check_feature_job(out_dir: str, expected) -> list[str]:
    """topFeatures and LIBSVM lines against the corpus oracle."""
    problems = []
    got = []
    for line in read_single_text(f"{out_dir}/topFeatures.txt"):
        tok, _, val = line[1:-1].rpartition(",")
        got.append((tok, float(val)))
    want = expected.ranking
    if [tok for tok, _ in got] != [tok for tok, _ in want]:
        problems.append("topFeatures: tokens or rank order differ from the oracle")
    elif any(abs(a - b) > 1e-6 for (_, a), (_, b) in zip(got, want)):
        problems.append("topFeatures: info gain differs from the oracle by more than 1e-6")
    lines = read_single_text(f"{out_dir}/LIBSVMOutput.txt")
    want_lines = [
        " ".join([str(label)] + [f"{i}:1" for i in idx])
        for _, (label, idx) in sorted(expected.libsvm.items())
    ]
    if lines != want_lines:
        problems.append("LIBSVMOutput: lines differ from the oracle's index sets")
    return problems


_REPORT_LINE = re.compile(r"^(\d+);(0\.0|1\.0);(\[.*\])$")


def check_cluster_report(out_dir: str, tree_json: str, n_docs: int) -> list[str]:
    """``output.txt`` grammar and cluster ids, and one D3 sample node per
    vectorized log."""
    problems = []
    lines = read_single_text(f"{out_dir}/output.txt")
    if len(lines) != n_docs:
        problems.append(f"output.txt: {len(lines)} lines for {n_docs} vectorized logs")
    for line in lines:
        m = _REPORT_LINE.match(line)
        if not m or not 0 <= int(m.group(1)) < KMEANS_K:
            problems.append(f"output.txt: bad line {line[:60]!r}")
            break
        apis = json.loads(m.group(3))
        if not apis or not all(set(a) == {"name", "size"} for a in apis):
            problems.append(f"output.txt: bad API list {line[:60]!r}")
            break
    tree = json.loads(tree_json)
    samples = [s for c in tree["children"] for k in c["children"] for s in k["children"]]
    if len(samples) != n_docs or not all(s["name"].startswith("Sample ") for s in samples):
        problems.append(f"d3 tree: {len(samples)} sample nodes for {n_docs} vectorized logs")
    return problems
