"""``curation_funnel``: the repo's ``example_pipeline`` DAG over a seeded
document corpus.

The project is copied unchanged except for two settings: the master
(``local[nproc]``) and the path of the ``documents`` source, which points
at a generated corpus shaped like the framework's test corpus (a
30-word vocabulary, 10-100 words per document, five language labels,
twenty sources, a few percent planted near-duplicates).

Each warm invocation re-runs the whole DAG on the same corpus: the
bronze ``unique_key`` model merges every document again and every
silver/gold table is rebuilt.  This is the workload that loads the
operator SQL shapes (signals, language-ID, Gopher gates, MinHash-LSH
dedup, PII scrub, decontamination, DSIR, tokenizer training, packing).

Output check: the first stages of the repo's own DuckDB oracle for the
funnel gate (``_FUNNEL_PREFIX``: quality → dedup → decontam) run on the
same parquet, and each stage's doc_id set must equal the matching model
table.  The rest of that oracle is left out because DuckDB needs longer
for it than a whole run may spend: on a 500-document corpus the DSIR
selection CTE takes about 15 s and the unrolled tokenizer tail about a
minute.  Those stages are covered by the project's own custom SQL tests
(``packed_docs_accounted``, ``tokenized_in_domain``, ``funnel_monotone``)
in the data-quality pass.
"""

from __future__ import annotations

import re
import shutil
from pathlib import Path

import numpy as np

from .project import write_parquet

DOCS = 300
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
NEAR_DUP = 0.05
SOURCE_DIR = Path(__file__).resolve().parents[1] / "example_pipeline"
DATABASE = "analytics_pipeline"  # the project's custom tests name it

# oracle CTE → model table holding the same doc_id set
STAGES = {
    "quality": "silver_quality",
    "dedup": "silver_dedup",
    "decon": "silver_decontam",
}


def _corpus(rng: np.random.Generator) -> dict:
    lengths = rng.integers(10, 101, DOCS)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lengths]
    for i in np.flatnonzero(rng.random(DOCS) < NEAR_DUP):
        if i == 0:
            continue
        words = texts[int(rng.integers(0, i))].split(" ")
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    return {
        "doc_id": np.arange(DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(LANGS), DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


class Workload:
    def __init__(self, rng: np.random.Generator, root: Path, master: str):
        self.corpus_path = root / "data" / "documents.parquet"
        self.input_bytes = write_parquet(self.corpus_path, _corpus(rng))
        self.row_count = DOCS
        self.project = root / "project"
        shutil.copytree(
            SOURCE_DIR, self.project, ignore=shutil.ignore_patterns("README.md")
        )
        profiles = self.project / "profiles.yml"
        profiles.write_text(
            re.sub(r"\$\{SPARK_MASTER:-local\[8\]\}", master, profiles.read_text())
        )
        sources = self.project / "sources.yml"
        sources.write_text(
            re.sub(
                r"path: .*documents\.parquet",
                f"path: {self.corpus_path}",
                sources.read_text(),
            )
        )

    def stage(self, invocation: int) -> int:
        return self.input_bytes

    def check(self, spark) -> list[tuple[str, bool]]:
        import duckdb

        from data_transformation_python_spark.queries.framework_semantics import (
            _FUNNEL_PREFIX,
        )

        union = " UNION ALL ".join(
            f"SELECT '{cte}' AS stage, doc_id FROM {cte}" for cte in STAGES
        )
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{self.corpus_path}')"
            )
            rows = con.execute(_FUNNEL_PREFIX + union).fetchall()
        finally:
            con.close()
        want: dict[str, set] = {cte: set() for cte in STAGES}
        for stage, doc_id in rows:
            want[stage].add(int(doc_id))
        results = []
        for cte, model in STAGES.items():
            got = {
                int(r[0])
                for r in spark.table(f"{DATABASE}.{model}").select("doc_id").collect()
            }
            results.append((model, got == want[cte] and len(got) > 0))
        return results
