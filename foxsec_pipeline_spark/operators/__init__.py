from .heuristics import (  # noqa: F401
    detect_nat,
    endpoint_abuse_analysis,
    endpoint_sequence_abuse,
    error_rate_analysis,
    hard_limit_analysis,
    per_endpoint_error_rate,
    per_endpoint_error_rate_specs,
    per_key_stats,
    session_analysis,
    session_limit_analysis,
    status_code_rate_analysis,
    threshold_analysis,
    ua_blocklist_analysis,
)
from .windows import beam_session_gap, windowed_counts  # noqa: F401
from .summary import source_correlation, summary_delta  # noqa: F401
from .customs import (  # noqa: F401
    account_creation_dist,
    assume_role_correlate,
    features_combine,
    multi_ip_login,
    private_relay_forward_mismatch,
    sessionize,
    status_comparator,
    watchlist_match,
)
from .dedup import exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs, simhash  # noqa: F401
from .similarity import cosine_topk, cosine_topk_ivf, cosine_topk_lsh  # noqa: F401
from .textanalysis import fingerprint, language_id, quality_score, text_stats  # noqa: F401
