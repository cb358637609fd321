from colbert_jl_spark.sources.pages import pages_from_documents, synth_pages

__all__ = ["pages_from_documents", "synth_pages"]
