"""``analytics_llm``: the read side of the engine in one closed loop.

One pass runs the registry keys of analytics.py over a generated star
schema and the LLM operators of corpus.py over a generated corpus, in a
fixed order. No op writes through ``sources.writers`` or runs a
pipeline spec.
"""

from __future__ import annotations

from analytics import AnalyticsMix
from corpus import LlmCorpus


class AnalyticsLlm:
    def __init__(self, work: str, seed: int):
        self.parts = [AnalyticsMix(work, seed), LlmCorpus(work, seed)]

    def generate(self) -> dict:
        return {"star": self.parts[0].generate(), "corpus": self.parts[1].generate()}

    def bind(self, spark) -> None:
        for p in self.parts:
            p.bind(spark)

    def input_rows(self) -> int:
        return sum(p.input_rows() for p in self.parts)

    def pass_ops(self):
        for p in self.parts:
            yield from p.pass_ops()

    def check(self) -> tuple[dict[str, str], dict]:
        failures, extra = {}, {}
        for p in self.parts:
            f, e = p.check()
            failures.update(f)
            extra.update(e)
        return failures, extra
