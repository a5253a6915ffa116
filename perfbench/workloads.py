"""The benchmark's workloads: which registered queries a pass runs, in which
order, and over which generated tables."""

from __future__ import annotations

from dataclasses import dataclass

from datagen import Sizes


@dataclass(frozen=True)
class Workload:
    queries: tuple
    tables: tuple  # generated, touched at set-up and exposed to the oracle
    sizes: Sizes


WORKLOADS = {
    # tamar's core semantics: time goes to the streaming layer (state-store
    # opens, micro-batch machinery, one pandas call per fired session).  The
    # last two queries run the windows session logic and process_state in
    # batch form over the same events, so a change that helps one mode at
    # the other's cost shows in their per-query times.  About 66 events per
    # user over 30 days, as in the fixtures: with the 30-minute session gap
    # almost every session holds a single event.
    "stream_sessions": Workload(
        queries=(
            "streaming_session_agg",
            "streaming_session_process",
            "streaming_global_state",
            "streaming_cep_funnel",
            "session_agg",
            "stateful_event_numbering",
        ),
        tables=("events",),
        sizes=Sizes(events=2_000, users=30, documents=0, embeddings=0),
    ),
    # text kernels on Python/Arrow workers, the cosine top-k operator, and
    # corpus_e2e's eager sub-jobs while it builds its plan; no state store
    "curate_corpus": Workload(
        queries=(
            "corpus_e2e",
            "doc_quality",
            "warc_e2e",
            "embed_cosine_topk",
        ),
        tables=("documents", "embeddings"),
        sizes=Sizes(events=0, users=1, documents=500, embeddings=500),
    ),
}
