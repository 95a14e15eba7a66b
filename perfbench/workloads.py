"""Workload corpora: generated from a seed with the package's public
``sources.synthetic`` generators and written once as parquet.

Corpora are cached under ``perfbench/.corpora/<corpus>-s<seed>-<hash>/`` so that
generation is never inside ``setup_s`` and never inside a timed rep. The
files table is written with pyarrow, split into ``FILE_PARTS`` part files
(the same layout a ``repartition(N).write`` gives), so the benchmark's
Spark session only ever reads it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
CORPORA = os.path.join(HERE, ".corpora")
FILE_PARTS = 8


def load() -> dict:
    """Corpus generator parameters, workload definitions and the
    measurements behind the choice of workloads (workloads.json)."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


# Share of true pairs the lexical channel must keep above the
# est-Jaccard prefilter on a standard corpus (whose pipeline F1 is 1.0).
CANDIDATE_COMPLETENESS_MIN = 0.95


def expected_clusters(corpus: dict) -> int:
    """True entity count of a standard corpus: clusters + singletons."""
    return corpus["kwargs"]["n_clusters"] + corpus["kwargs"]["n_unrelated"]


def corpus_dir(corpus: str, seed: int, kwargs: dict) -> str:
    """Cache key: corpus name, seed and a hash of the generator kwargs."""
    key = hashlib.sha256(json.dumps(kwargs, sort_keys=True).encode()).hexdigest()[:10]
    return os.path.join(CORPORA, f"{corpus}-s{seed}-{key}")


def _write_tables(corpus, out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    repo, path, commit, lang, content = (list(c) for c in zip(*corpus.files))
    spec_id = [f"{r}//{p}@{c}" for r, p, c in zip(repo, path, commit)]
    sha = [hashlib.sha256(s.encode("utf-8")).hexdigest() for s in content]
    files = pa.table(
        {
            "repo": repo, "path": path, "commit": commit, "lang": lang,
            "content": content, "spec_id": spec_id, "content_sha": sha,
        }
    )
    os.makedirs(os.path.join(out, "files"))
    n = files.num_rows
    step = -(-n // FILE_PARTS)
    for i in range(FILE_PARTS):
        part = files.slice(i * step, step)
        pq.write_table(part, os.path.join(out, "files", f"part-{i:05d}.parquet"))

    truth = pa.table(
        {
            "spec_id": pa.array([t[0] for t in corpus.truth], pa.string()),
            "cluster_id": pa.array([t[1] for t in corpus.truth], pa.int64()),
        }
    )
    pairs = pa.table(
        {
            "left_spec_id": pa.array([p[0] for p in corpus.pairs], pa.string()),
            "right_spec_id": pa.array([p[1] for p in corpus.pairs], pa.string()),
            "label": pa.array([p[2] for p in corpus.pairs], pa.int32()),
            "split": pa.array([p[3] for p in corpus.pairs], pa.string()),
        }
    )
    for name, table in (("truth", truth), ("pairs", pairs)):
        os.makedirs(os.path.join(out, name))
        pq.write_table(table, os.path.join(out, name, "part-00000.parquet"))


def ensure_corpus(name: str, corpus: dict, seed: int) -> str:
    """Path of the cached parquet corpus ``name`` (generator parameters
    ``corpus``) for ``seed``; generated on first use."""
    from bigdataentityresolution_spark.sources import synthetic

    out = corpus_dir(name, seed, corpus["kwargs"])
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    generator = getattr(synthetic, corpus["generator"].rsplit(".", 1)[1])
    generated = generator(seed=seed, **corpus["kwargs"])
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _write_tables(generated, tmp)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
