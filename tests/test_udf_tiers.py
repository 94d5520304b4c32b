"""Model-tier plumbing: presidio engines must be constructed once per
process (module-level lazy singletons), never per row, and an absent
optional library is looked for once per process, not once per call."""

from __future__ import annotations

import importlib.abc
import sys
import types

import pytest

from ndl_core_data_pipeline_spark.functions import udfs
from tests.test_pdf import _mini_pdf


def test_presidio_engines_built_once(monkeypatch):
    counts = {"analyzer": 0, "anonymizer": 0}

    class FakeAnalyzer:
        def __init__(self):
            counts["analyzer"] += 1

        def analyze(self, text, entities, language):
            return []

    class FakeAnonymized:
        def __init__(self, text):
            self.text = text.replace("a@b.com", "xxx@xxx.xx")

    class FakeAnonymizer:
        def __init__(self):
            counts["anonymizer"] += 1

        def anonymize(self, text, analyzer_results, operators):
            return FakeAnonymized(text)

    class FakeOperatorConfig:
        def __init__(self, *args, **kwargs):
            pass

    mod_a = types.ModuleType("presidio_analyzer")
    mod_a.AnalyzerEngine = FakeAnalyzer
    mod_b = types.ModuleType("presidio_anonymizer")
    mod_b.AnonymizerEngine = FakeAnonymizer
    mod_c = types.ModuleType("presidio_anonymizer.entities")
    mod_c.OperatorConfig = FakeOperatorConfig
    mod_b.entities = mod_c
    monkeypatch.setitem(sys.modules, "presidio_analyzer", mod_a)
    monkeypatch.setitem(sys.modules, "presidio_anonymizer", mod_b)
    monkeypatch.setitem(sys.modules, "presidio_anonymizer.entities", mod_c)
    monkeypatch.setattr(udfs, "_PRESIDIO", None)
    monkeypatch.setattr(udfs, "_PRESIDIO_TRIED", False)

    for i in range(25):
        out = udfs.anonymize_text(f"row {i} mail a@b.com")
        assert "xxx@xxx.xx" in out
    assert counts == {"analyzer": 1, "anonymizer": 1}


def test_regex_tier_without_presidio():
    # container has no presidio: the regex tier must redact both patterns
    out = udfs.anonymize_text("mail a.b@example.co.uk call 07911 123 456 end")
    assert out == "mail xxx@xxx.xx call xx-xxxx-xxxx end"


def test_sentence_transformer_built_once(monkeypatch):
    import numpy as np

    from ndl_core_data_pipeline_spark import classify

    counts = {"model": 0}

    class FakeModel:
        def __init__(self, name):
            assert name == "all-MiniLM-L6-v2"
            counts["model"] += 1

        def encode(self, texts):
            return np.ones((len(texts), 4))

    mod = types.ModuleType("sentence_transformers")
    mod.SentenceTransformer = FakeModel
    monkeypatch.setitem(sys.modules, "sentence_transformers", mod)
    monkeypatch.setattr(classify, "_ST_MODEL", None)
    monkeypatch.setattr(classify, "_ST_TRIED", False)
    for _ in range(10):
        out = classify.embed_texts(["a", "b"])
        assert out.shape == (2, 4)
    assert counts["model"] == 1


def test_langdetect_tier_seeded(monkeypatch):
    calls = {"detect": 0}

    class FakeFactory:
        seed = None

    def fake_detect(text):
        calls["detect"] += 1
        return "xx"

    mod = types.ModuleType("langdetect")
    mod.DetectorFactory = FakeFactory
    mod.detect = fake_detect
    monkeypatch.setitem(sys.modules, "langdetect", mod)
    monkeypatch.setattr(udfs, "_OPTIONAL", {})  # probe the fake afresh
    long_text = "word " * 60  # > 200 chars
    assert udfs.detect_language(long_text) == "xx"
    assert FakeFactory.seed == 0  # reference pins the seed
    # short text never reaches the model: metadata fallback then 'en'
    assert udfs.detect_language("short", "fr") == "fr"
    assert udfs.detect_language("short") == "en"
    assert calls["detect"] == 1


def test_tiktoken_tier(monkeypatch):
    class FakeEnc:
        def encode(self, text):
            return text.split()

    fake_calls = {"for_model": 0}

    mod = types.ModuleType("tiktoken")

    def encoding_for_model(name):
        fake_calls["for_model"] += 1
        return FakeEnc()

    mod.encoding_for_model = encoding_for_model
    mod.get_encoding = lambda name: FakeEnc()
    monkeypatch.setitem(sys.modules, "tiktoken", mod)
    monkeypatch.setattr(udfs, "_ENCODER", None)
    monkeypatch.setattr(udfs, "_ENCODER_TRIED", False)
    for _ in range(5):
        assert udfs.count_tokens("one two three") == 3
    assert fake_calls["for_model"] == 1  # encoder cached
    assert udfs.count_tokens(None) == 0 and udfs.count_tokens("") == 0


class _CountingBlocker(importlib.abc.MetaPathFinder):
    """Makes the named modules unimportable and counts every attempt."""

    def __init__(self, names):
        self.names = set(names)
        self.attempts = dict.fromkeys(self.names, 0)

    def find_spec(self, fullname, path=None, target=None):
        if fullname in self.names:
            self.attempts[fullname] += 1
            raise ModuleNotFoundError(f"No module named {fullname!r}", name=fullname)
        return None


_PDF = _mini_pdf([b"tiny"])


@pytest.mark.parametrize(
    "module, call",
    [
        ("langdetect", lambda: udfs.detect_language("word " * 60)),
        ("bs4", lambda: udfs.extract_html_text("<p>a <b>b</b></p>")),
        ("fitz", lambda: udfs.extract_pdf_text(_PDF)),
        ("pdf2image", lambda: udfs._pdf_ocr(b"%PDF-1.4")),
    ],
)
def test_absent_library_probed_once(monkeypatch, module, call):
    blocker = _CountingBlocker([module])
    for name in list(sys.modules):
        if name == module or name.startswith(module + "."):
            monkeypatch.delitem(sys.modules, name)
    monkeypatch.setattr(sys, "meta_path", [blocker, *sys.meta_path])
    monkeypatch.setattr(udfs, "_OPTIONAL", {})
    for _ in range(100):
        call()
    assert blocker.attempts[module] == 1
