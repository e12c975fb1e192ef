"""Call-counting stand-in for an OpenAI-compatible chat client.

``llm_kernel(client_factory=...)`` builds one client per Python worker
task, so calls are counted through a Spark accumulator that the tasks
send back to the driver.  The reply is derived from the prompt text
alone (no sleep, no network), so a cold and a warm run classify every
key identically.
"""

from __future__ import annotations

import hashlib
import json
from types import SimpleNamespace

SENTIMENTS = ("Positive", "Neutral", "Negative", "Mixed")
CATEGORIES = ("Product Quality", "Pricing", "Delivery", "Customer Support",
              "Sizing", "Design")


def reply_for(prompt: str) -> dict[str, str]:
    """The deterministic classification the fake model returns."""
    h = int(hashlib.md5(prompt.encode()).hexdigest()[:8], 16)
    return {"sentiment": SENTIMENTS[h % 4].lower(),
            "category": CATEGORIES[(h >> 2) % len(CATEGORIES)]}


class FakeClient:
    """Answers ``client.chat.completions.create(...)`` and adds 1 to
    *calls* (an accumulator, or any object with ``add``) per request."""

    def __init__(self, calls):
        self._calls = calls
        self.chat = SimpleNamespace(completions=self)

    def create(self, messages, **_kwargs):
        self._calls.add(1)
        content = json.dumps(reply_for(messages[-1]["content"]))
        return SimpleNamespace(choices=[
            SimpleNamespace(message=SimpleNamespace(content=content))])


class FakeClientFactory:
    """Picklable ``client_factory`` for ``llm_kernel``."""

    def __init__(self, calls):
        self.calls = calls

    def __call__(self) -> FakeClient:
        return FakeClient(self.calls)
