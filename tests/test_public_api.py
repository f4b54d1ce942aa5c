"""Modules are the public API: every name is imported from the module that
defines it, and the package roots import nothing, so a process loads only
the modules it uses (no Spark session required at import time)."""

import ast
import os
import pkgutil
import re
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

import prase_spark
import prase_spark.datapipe

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the imports of the benchmark's pipeline run (perfbench/run.py)
PIPELINE_IMPORTS = """
from prase_spark.checkpoint import roundtrip_state
from prase_spark.config import ParisConfig, get_spark
from prase_spark.embed import embedding_reset_matches, resolve_embeddings
from prase_spark.evaluate import evaluate_alignment
from prase_spark.extract import pages_to_raw_triples
from prase_spark.matching import canonical_entity_ids
from prase_spark.paris import init_state, run_iteration
from prase_spark.pipeline import bootstrap_seed, build_kgs_from_raw, materialize
"""


def _loaded_modules(code: str) -> list[str]:
    """prase_spark modules in sys.modules after running ``code`` in a fresh
    interpreter."""
    probe = code + (
        "\nimport sys\n"
        "print(','.join(sorted(m for m in sys.modules"
        " if m.split('.')[0] == 'prase_spark')))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, timeout=120, cwd=REPO
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.strip().splitlines()[-1].split(",")


@pytest.mark.parametrize("module", ["config", "extract", "embed"])
def test_module_import_loads_only_that_module(module):
    # the driver's get_spark and the Python workers that unpickle extract /
    # embed functions pay for nothing else in the package
    assert _loaded_modules(f"import prase_spark.{module}") == [
        "prase_spark", f"prase_spark.{module}"
    ]


def test_pipeline_imports_load_only_the_pipeline():
    loaded = _loaded_modules(PIPELINE_IMPORTS)
    assert len(loaded) <= 17, loaded
    assert not [m for m in loaded if m.startswith("prase_spark.datapipe")], loaded


def _all_modules() -> list[str]:
    return [m.name for m in pkgutil.walk_packages(prase_spark.__path__, "prase_spark.")]


def test_every_module_imports_on_its_own():
    # one fresh interpreter per module: an import cycle or a missing import
    # can no longer hide behind an eager package root
    def run(module):
        proc = subprocess.run(
            [sys.executable, "-c", f"import {module}"],
            capture_output=True, text=True, timeout=120, cwd=REPO,
        )
        return module, proc.returncode, proc.stderr[-1000:]

    modules = _all_modules()
    assert len(modules) > 70
    with ThreadPoolExecutor(4) as pool:
        failed = [r for r in pool.map(run, modules) if r[1] != 0]
    assert failed == []


@pytest.mark.parametrize("package", [prase_spark, prase_spark.datapipe])
def test_package_roots_are_docstrings(package):
    tree = ast.parse(open(package.__file__).read())
    assert len(tree.body) == 1 and isinstance(tree.body[0], ast.Expr)
    # the module map names every module of the package
    words = set(re.findall(r"\w+", ast.get_docstring(tree)))
    missing = [i.name for i in pkgutil.iter_modules(package.__path__) if i.name not in words]
    assert missing == []


def test_reference_workflow_verbs_resolve_from_their_modules():
    from prase_spark.checkpoint import load_state, save_state
    from prase_spark.evaluate import evaluate_alignment
    from prase_spark.extract import extract_triples
    from prase_spark.kgbuild import build_kg
    from prase_spark.pipeline import align, materialize, prase_feedback_align

    for verb in (build_kg, align, prase_feedback_align, materialize,
                 evaluate_alignment, extract_triples, load_state, save_state):
        assert callable(verb)


def test_datapipe_verbs_resolve_from_their_modules():
    from prase_spark.datapipe.chunking import chunk_documents, pack_chunks
    from prase_spark.datapipe.decontam import decontaminate
    from prase_spark.datapipe.dedup import minhash_dedup
    from prase_spark.datapipe.sampling import hash_sample
    from prase_spark.datapipe.simsearch import lsh_topk

    for verb in (minhash_dedup, decontaminate, chunk_documents, pack_chunks,
                 hash_sample, lsh_topk):
        assert callable(verb)
