"""Staged Spark extraction job: detect -> route -> parse -> classify -> emit.

The whole per-document lifecycle (reference: AutoDetectParser ->
CompositeParser dispatch -> format parser -> handlers, SURVEY.md §3)
collapses into ONE ``mapInArrow`` pass so the heavy ``html`` binary
column crosses the JVM->Python boundary exactly once, as Arrow record
batches that are never converted to pandas, and is dropped before any
downstream shuffle. Routing happens inside the batch
(grouped per route), never as separate DataFrame branches that would
re-scan the source.
"""
