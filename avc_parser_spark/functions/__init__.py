"""Training-data-pipeline operations over document/embedding tables.

First-class components alongside the forensic pipeline (per the build brief):
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / winnowing
fingerprints / embedding near-dup) with connected-component cluster
resolution and train/eval decontamination, similarity search (brute-force +
LSH-bucketed + IVF ANN + product quantization), text analysis (lang-id,
quality, tokens, splits, sequence packing, mixture rebalance), corpus
curation (the composed end-to-end flow),
and multimodal column plumbing (real PPM/PNG/GIF/baseline-JPEG/WAV codecs
+ MP4 container metadata).
"""
