"""The benchmark's workloads, by name."""

from workloads.corpus_curate import CorpusCurate
from workloads.fold_rollup import FoldRollup
from workloads.ingest_gate import IngestGate
from workloads.vector_topk import VectorTopk

REGISTRY = {w.NAME: w for w in (FoldRollup, CorpusCurate, IngestGate, VectorTopk)}
