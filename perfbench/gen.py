"""Seeded input generator for the workloads.

Everything the program under test receives is written here, into one work
directory, from the workload name and the seed alone: the same seed gives the
same files.
"""
import gzip
import json
import os
import random

GOLDEN = os.path.join("src", "test", "resources", "golden")


def load_entities(root):
    path = os.path.join(root, GOLDEN, "entities.jsonl.gz")
    with gzip.open(path, "rt", encoding="utf-8") as f:
        return [json.loads(line) for line in f]


def degree(e):
    keys = ("work_ids",) if e["type"] == "author" else (
        "author_ids", "base_text_ids", "commentary_ids")
    return sum(len(e.get(k) or []) for k in keys)


def write_entities(root, work):
    """The `{id: entity}` map the engine's JSON loader reads."""
    ents = load_entities(root)
    with open(os.path.join(work, "entities.json"), "w", encoding="utf-8") as f:
        json.dump({e["id"]: e for e in ents}, f, ensure_ascii=False)
    return ents


class Weighted:
    """Draws entity ids with probability proportional to degree + 1."""

    def __init__(self, ents, rng):
        self.rng = rng
        self.ids = [e["id"] for e in ents]
        self.weights = [degree(e) + 1 for e in ents]

    def draw(self, k):
        out = []
        while len(out) < k:
            i = self.rng.choices(self.ids, weights=self.weights)[0]
            if i not in out:
                out.append(i)
        return out


def serve_explore(root, work, seed):
    """UI sessions: 1-2 authors and 0-2 works each, drawn by degree + 1. The
    client asks hops=1, then hops=2 for the same seeds, collapses the busiest
    non-seed node, looks up the labels of the returned ids and loads a
    dropdown; the list is long enough that no client runs out."""
    rng = random.Random(seed)
    ents = write_entities(root, work)
    authors = Weighted([e for e in ents if e["type"] == "author"], rng)
    works = Weighted([e for e in ents if e["type"] == "work"], rng)
    dropdowns = ["authors", "works", "all"]
    sessions = [{
        "authors": authors.draw(rng.randint(1, 2)),
        "works": works.draw(rng.randint(0, 2)),
        "dropdown": rng.choice(dropdowns),
    } for _ in range(2000)]
    with open(os.path.join(work, "sessions.json"), "w") as f:
        json.dump(sessions, f)


def offline_batch(root, work, seed):
    """The whole graph plus the graph suite's parameters (the seed picks the
    personalized-PageRank seed set), and the operator batch's tables."""
    from tables import write_tables
    rng = random.Random(seed)
    ents = write_entities(root, work)
    params = {"ppr_seeds": Weighted(ents, rng).draw(4)}
    with open(os.path.join(work, "params.json"), "w") as f:
        json.dump(params, f)
    write_tables(work, seed)


GENERATORS = {
    "serve_explore": serve_explore,
    "offline_batch": offline_batch,
}
