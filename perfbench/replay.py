"""In-process replay of the fused Python stage (extract → nlp → model),
outside Spark, for the per-document split of its cost.

The replay feeds corpus pages through the same public functions the
``inference.infer_stage_agg`` stage calls, in batches of the stage's Arrow
batch size, with one BLAS thread (the setting Spark's Python workers get).
``model.net``'s per-document graph functions are wrapped for the duration
of the replay so their time is charged by name; the wrappers are removed
afterwards.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

_MODEL_FNS = ("encode_words", "build_nodes", "build_adj", "rgcn_forward")


@contextmanager
def _timed_model_fns(acc: dict[str, float]):
    from glre_spark.model import net

    originals = {name: getattr(net, name) for name in _MODEL_FNS}

    def wrap(name, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                acc[name] += time.perf_counter() - t0
        return timed

    for name, fn in originals.items():
        setattr(net, name, wrap(name, fn))
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(net, name, fn)


def replay_python_stage(pages: list[tuple[str, bytes]], tracer, batch: int) -> dict[str, float]:
    """``pages`` = [(url, html)]. Returns the extract / nlp / model
    per-layer metrics; batch-level spans go to ``tracer``."""
    from glre_spark.extract import extract_text
    from glre_spark.inference import _get_model
    from glre_spark.nlp import analyze

    model = _get_model()
    acc = {name: 0.0 for name in _MODEL_FNS}
    n_docs = len(pages)
    html_bytes = mentions = entities = preds = 0
    with _timed_model_fns(acc), tracer.span("replay", docs=n_docs, batch=batch):
        for lo in range(0, n_docs, batch):
            chunk = pages[lo : lo + batch]
            with tracer.span("extract.extract_text", docs=len(chunk)):
                texts = [extract_text(h) for _, h in chunk]
            with tracer.span("nlp.analyze", docs=len(chunk)):
                docs = [analyze(u, t) for (u, _), t in zip(chunk, texts)]
            with tracer.span("model.predict_batch", docs=len(chunk)):
                out = model.predict_batch(docs)
            html_bytes += sum(len(h) for _, h in chunk)
            mentions += sum(len(d.mentions) for d in docs)
            entities += sum(len(d.entities) for d in docs)
            preds += sum(len(p) for p in out)
    us = 1e6 / max(n_docs, 1)
    graph = sum(acc.values())
    return {
        "extract.us_per_doc": tracer.total("extract.extract_text") * us,
        "extract.bytes_per_doc": html_bytes / max(n_docs, 1),
        "nlp.us_per_doc": tracer.total("nlp.analyze") * us,
        "nlp.mentions_per_doc": mentions / max(n_docs, 1),
        "nlp.entities_per_doc": entities / max(n_docs, 1),
        "model.encode_us_per_doc": acc["encode_words"] * us,
        "model.nodes_us_per_doc": acc["build_nodes"] * us,
        "model.adj_us_per_doc": acc["build_adj"] * us,
        "model.rgcn_us_per_doc": acc["rgcn_forward"] * us,
        # predict_batch minus the four graph functions above: attention,
        # the batched ff1 / gated head and emit
        "model.predict_us_per_doc": (tracer.total("model.predict_batch") - graph) * us,
        "model.preds_per_doc": preds / max(n_docs, 1),
    }
