"""Readers, sinks and ontology/REST sources.  Import each from its leaf
module."""
