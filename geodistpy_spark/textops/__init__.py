from .analysis import (
    doc_fingerprint,
    language_id,
    quality_score,
    rolling_fingerprints,
    token_count,
    token_count_bpe,
    trigram_logprob,
)
from .audio import (
    audio_feature_pipeline,
    audio_features,
    decode_audio,
    decode_wav,
    fetch_audio_bytes,
    parse_wav_header,
    sample_audio_windows,
)
from .ann import (
    codebooks_from_df,
    cosine_topk,
    ivf_topk,
    ivfpq_topk,
    pq_encode,
    pq_topk,
    train_centroids,
    train_pq,
)
from .dedup import (
    dedup_exact,
    embedding_near_pairs,
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_signatures,
    connected_components,
    near_dup_groups,
    dedup_near,
    near_duplicates_minhash,
    ngram_jaccard,
    shingles,
    simhash,
    simhash_near_pairs,
    tokenize,
)
from .multimodal import (
    decode_media,
    fetch_media_bytes,
    media_feature_pipeline,
    resize_media,
)
from .pixels import decode_pixels, pixel_features
from .video import (
    decode_video_meta,
    fetch_video_bytes,
    mp4_frame_table,
    parse_mp4_header,
    sample_video_frames,
    video_feature_pipeline,
)
from .sampling import (
    decontaminate,
    hash_split,
    ngram_contamination,
    stratified_sample,
)

__all__ = [
    "decontaminate", "hash_split", "ngram_contamination", "stratified_sample",
    "doc_fingerprint", "language_id", "quality_score", "rolling_fingerprints",
    "token_count", "token_count_bpe", "trigram_logprob", "codebooks_from_df", "cosine_topk", "ivf_topk", "ivfpq_topk", "pq_encode", "pq_topk", "train_centroids", "train_pq", "dedup_exact",
    "embedding_near_pairs", "exact_duplicates", "lsh_candidate_pairs",
    "minhash_signatures", "connected_components", "near_dup_groups", "dedup_near",
    "near_duplicates_minhash", "ngram_jaccard",
    "audio_feature_pipeline", "audio_features", "decode_audio", "decode_wav",
    "fetch_audio_bytes", "parse_wav_header", "sample_audio_windows",
    "shingles", "simhash", "simhash_near_pairs", "tokenize", "decode_media",
    "decode_pixels", "pixel_features",
    "fetch_media_bytes", "media_feature_pipeline", "resize_media",
    "decode_video_meta", "fetch_video_bytes", "mp4_frame_table",
    "parse_mp4_header", "sample_video_frames", "video_feature_pipeline",
]
