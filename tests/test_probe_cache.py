"""scale_probe._probe_corpus_dir caches the scale probes' synthetic
input corpora. Its directory is keyed on n and the source of the two
generators, and a build is renamed into place only once it is whole.
Spark-free: the generators are replaced by fakes that write small files."""

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "scale_probe",
    os.path.join(os.path.dirname(__file__), "..", "tools", "scale_probe.py"),
)
scale_probe = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scale_probe)

BUILDS = []


def _gen_a(spark, n, out_dir):
    BUILDS.append(out_dir)
    with open(os.path.join(out_dir, "a.txt"), "w") as f:
        f.write(str(n))


def _gen_b(spark, n, out_dir):
    BUILDS.append(out_dir)
    with open(os.path.join(out_dir, "b.txt"), "w") as f:
        f.write(str(n))


def _interrupted(spark, n, out_dir):
    open(os.path.join(out_dir, "partial.txt"), "w").close()
    raise KeyboardInterrupt


@pytest.fixture
def cache(tmp_path, monkeypatch):
    BUILDS.clear()
    monkeypatch.setattr(scale_probe, "_PROBE_CACHE_ROOT", str(tmp_path))
    monkeypatch.setattr(scale_probe, "_synth_embeddings", _gen_a)
    monkeypatch.setattr(scale_probe, "_synth_documents", _gen_a)
    return tmp_path


def test_cache_dir_keys_on_generator_source_and_n(cache, monkeypatch):
    d = scale_probe._probe_corpus_dir(None, 10)
    assert os.listdir(d) == ["a.txt"]
    assert len(BUILDS) == 2
    # same generators, same n: the cached directory, no rebuild
    assert scale_probe._probe_corpus_dir(None, 10) == d
    assert len(BUILDS) == 2
    # another n, or an edited generator, gets its own directory
    assert scale_probe._probe_corpus_dir(None, 20) != d
    monkeypatch.setattr(scale_probe, "_synth_documents", _gen_b)
    d_b = scale_probe._probe_corpus_dir(None, 10)
    assert d_b != d
    assert sorted(os.listdir(d_b)) == ["a.txt", "b.txt"]
    # every build went to a temp dir, and only the finished ones remain
    assert all(b not in (d, d_b) for b in BUILDS)
    assert len(os.listdir(cache)) == 3


def test_interrupted_build_leaves_no_corpus(cache, monkeypatch):
    monkeypatch.setattr(scale_probe, "_synth_documents", _interrupted)
    with pytest.raises(KeyboardInterrupt):
        scale_probe._probe_corpus_dir(None, 10)
    assert os.listdir(cache) == []
    monkeypatch.setattr(scale_probe, "_synth_documents", _gen_b)
    d = scale_probe._probe_corpus_dir(None, 10)
    assert sorted(os.listdir(d)) == ["a.txt", "b.txt"]
