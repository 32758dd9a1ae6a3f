"""The driver contract, pinned; scripts/check_oracle.py checks its values.

queries() and oracle_sql() keep their 99 names, every oracle string stays
byte-identical to its recorded sha256, the run order leads with the
queries the driver's last correctness run (CORRECTNESS_r05.json) did not
check, every benchmark name resolves, and nothing under sparkstract/
imports the driver-side registry. The sha256 pins were recorded from the
oracle strings of commit 1c96f34, before the registry existed; change one
only together with the oracle it pins.
"""

import ast
import hashlib
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# sha256 of name + NUL + sql + NUL over all oracles, in name order
COMBINED_SHA256 = (
    "872f8c91a73536a8f82394e5f04d6ad50435c3345ea642ef065be2ef3a8d63b1")
ORACLE_SHA256 = {
    "ann_brute_topk":
        "cf73500d172adfd6e215e351edb7e3aad37847b4ba01f7f2009f0c2e86deb2c5",
    "ann_ivf_kmeans_topk":
        "bd342248e7c4a31f1a498651c4d2177ebd5d93ef1a393f9ee47cdc561f1a8108",
    "ann_ivf_topk":
        "ebd4bddee115d08e9a863c448380477970b30edab6c7dbd44aef0f8516f127e6",
    "ann_pq_topk":
        "677501f5a6a41e188af5417dab0908676c7454fc533086955a378b823e09072e",
    "bidi_order":
        "735b290940bd21104d7a632afbd816a5ea2e7a2c31fc2ee45bb505d673741728",
    "bm25_topk":
        "1e817d1238473c7226db6e5968ca59b9ec91a43a7d18231e5dbc149fbf9e4ad1",
    "bpe_fertility":
        "62d9f9bbe6679ca71b8f0e9a6c9bff4ad3a500872f3e3a746dab1f51c46fd2e3",
    "bpe_merges":
        "0929ff1a9f498448a9e7394d08b36d6f4b132f4bd096518298e10d0d6e30f307",
    "bpe_tokens":
        "b3ee399583bc0571f870a494ccfaee4a9281d1b6c0edd6428a17c1a68b1ab28e",
    "chunk_docs":
        "2ebd67cfa87f315269f93a82a3befe40c4e0a9937d41ee330315e59b1045989d",
    "cluster_split":
        "a55aef05e299276be89c7f15b8e8ba7e2cb74a79ab5b6dbd8a248d5e1ea7e2b7",
    "cms_heavy_hitters":
        "503accb41b671ff07d0114ef466a07352514f87a841a603fbf3b817901c5f8c8",
    "contamination_report":
        "4d1a910551c3d7c2c48bdc4663bda7eb4b08712ca43b87782ba7ba06b07368d6",
    "corpus_report":
        "84b9e1171c02764974bd559d542364845262a4d2ae5e49643e96dfe16cc17da0",
    "cosine_label_audit":
        "b2c81a0404c0c0b59e3b31d011b75f5a3f05c6818c17670696e95168e421a441",
    "cosine_lsh":
        "2c1bf2b237a6014610d85cca59ab71f066d19b737c4c945dcc566e60f1c62462",
    "cosine_near_dup":
        "a1e9a214441fbeeef4a74a95c0ecc0db16c8a54250f5c89fb5eecd7c2bea4b54",
    "curated_corpus":
        "b582f61f081c62cc4a0018d053306725824ceeaf3f24ee69bfa9dbdaa0ba84a7",
    "customers_without_orders":
        "3172ec4439ed3e7f560eb73b893086e2d3a978ce2f5c4fe7083efce77b20241a",
    "decontaminate":
        "62aaf222ebe5bc47bc44f54d2049940076c78a490594d84e1d366720d194d779",
    "decontaminate_bloom":
        "e3e6a6209ada2485de3798e465a665232d286de75f9fb4af483a8cc8e29d0c4d",
    "dedup_exact":
        "bf532cc023b9fcc1fa63c61ec1975f008958e9c13d100313b15c35b54152b732",
    "dedup_exact_norm":
        "3a8d67932843e884bd23ddf575998fc3a153cca07eb1d8255b80be400b45f05a",
    "doc_keywords":
        "347b67a386a2ba4b106980782674a2c674e17afd49b5562f8bd5295bd4ac75f3",
    "dup_clusters":
        "420575a869144cc9c36573e5037ed6f341b8993cc1d2aba68b3008068f781b90",
    "event_median":
        "39a24a82285679cf268b10a63fb14dade4478a2997d53fcf51190621f7316762",
    "event_sessions":
        "5eee96c13993da5cea9653ad60b44a6831e9075463ed6854d6026b926d966314",
    "events_hourly":
        "3ef5cd3c538221c6a3dc271b54403e91c3e4c48ff1844f83fa1adf23804e916c",
    "extract_bidi":
        "1732746bd7d351820feb96784817ba97528886acbac0e3c5d25ecab0a02f3876",
    "extract_rtl":
        "ff28b81f2a830aec382590bbf3a9f5390eb05267bfefc2624e023fb8fa711129",
    "extract_spans":
        "6d56134c9e48abf96c152d418d1688c2d837304ae6e9a2f124ef0ce359c015ed",
    "extract_spans_model":
        "6d56134c9e48abf96c152d418d1688c2d837304ae6e9a2f124ef0ce359c015ed",
    "extract_spans_model_degraded":
        "6d56134c9e48abf96c152d418d1688c2d837304ae6e9a2f124ef0ce359c015ed",
    "extract_symbols":
        "7f69d59d9a0726375c1aba711ab8fcfddb9fb27c6929d6f39db4e6a99f635dd7",
    "extract_words":
        "0a06fdcdc48ed7ab9c1f29734be96a0749b00eba1f7c83d2d7e7ba4d1e899deb",
    "fix_mojibake":
        "7e59307bf363440eddabc4e3f9b88ab5242d16c686b0b29409c83eaddcb85d31",
    "gopher_stats":
        "b535dec94c9918f22fe3923d500151c30278c1f926fa0ecaefacaeda8fb73d67",
    "html_main_content":
        "3a02d0e48f05f8101721649dd1fcd018ee0db2e44c105befe0c705167ddd9661",
    "html_main_content_ctx":
        "8324d01de87eb183e6ff202be6b85c8fc6c8a762ec8e9b3b2fea6209384df770",
    "html_metadata":
        "1b7df3f316b6710bfbbda12f9432d08cfe952f8223ab5505e4ad3b939273e413",
    "image_features":
        "fc737cc4606a65812555d42861befe33774059dd2640f2f85235d29bcacd55a7",
    "importance_scores":
        "033d3be97dc459f530496c7c1246f2abc729ee3853715ec45d6ec7cd5dc8130b",
    "kmeans":
        "a782d28bd1d919095b009dbb36fffb130d57906bebd512b70169bfed61cdee4a",
    "layout_blocks":
        "c2cf8a59fc146ac9ab8129c280717a168a1b323c64833f09a71bd2a9ec39247a",
    "layout_geometry":
        "4b2047b1e489aaeb458c3a85f923a4414c0da0bf033904357b8048f3bb965c71",
    "line_dedup":
        "62b182d7c80821feb8f12cf2cf4aeed0c7c8f6985e7710ada4bd23b993b35187",
    "lm_doc_nll":
        "603fbf44bf049c84410d54e87820178184b0a513144129504ea4c13a5b58da9b",
    "lsh_bucket_audit":
        "585d6a7583c8d80ebfe8fc5acf380a4f7b0374774f6a5344b5a8179c3640ab90",
    "lsh_recall_audit":
        "dff1d3f0a705f4018dc6f22e80c53d7df358da91e982d58d021650e66cd76774",
    "media_decode_report":
        "865532cfc6446a5d5cadafe762e2fd2231e1831b9862a6bc3f66aa2ec0c8d91b",
    "minhash_lsh_pairs":
        "04589abc354185e9f76b06ebe6b1c0668ceef431ba6839125e3f697a2f6bb373",
    "minhash_match":
        "773f4851c27d01ebaaf21d177815abf5b29945aa2d90eaa5b11e84abc3b0ad2d",
    "ngram_jaccard":
        "4137e9aa00cc679e0d583109faa605296993d7fd5b8ca76a31e10356af00b93e",
    "pack_sequences":
        "06993b2ccd51614d062277515fdc089e2fda6a07c7f4716ce81eff6e973e8c41",
    "paragraphs":
        "b5b19ccb0b09e63d08a097a0bda85267c43188ce285516408550b015a4c33bea",
    "perplexity_buckets":
        "7e06803c10777c167d96493a9c3213a7e354ddfc1f9cbcac1d5ff0f5cf94d87b",
    "pii_scrub":
        "6cf574194b87f3e953081d988cf0a0667e2150d18f2fe36977b742d8b4431c64",
    "pricing_summary":
        "71ff4d082889052d7fad9e074b04462827c8a05c808f8c6fbba17fe1369beb6a",
    "priority_late_orders":
        "c4e3c24998ae343eea746e9b8d5b7311978ec0498ab0e7987a797c76a61253e9",
    "quality_classifier":
        "0f20e03e98b76dbc63820893844165c4cc4fb2ad7fc999c01f4838da8907aa66",
    "quality_score":
        "fa1ce15d828e8eff9025adcf6e81cbe8f1a9c52ad60ef588916a715e06205994",
    "quantity_quartiles":
        "c2b12ffc8113f4a4b8587f5cc70c747cd09a99530b2dd0965556aa8f3eb0550a",
    "render_alto":
        "90bd05cc4fb70cecc6ac488a33df86ae182f321603f9f5fb561e6f62460bc779",
    "render_alto_words":
        "40d1c0dea8a63b988230b59e3e0dbe03fc82b5ceff328e55bc9043185e8e3af6",
    "render_box":
        "8d6de0738defcf73d9adda1a868fefb550679e676e071d18f73b3676499c7a1d",
    "render_hocr":
        "24f809414974e761b90f1bd1e3411b631ad999096060fb56d9fbb73c505564fe",
    "render_hocr_words":
        "1534263d99858a3b4c0acee698ccfb092d60f7f34057fde3cbb35b290f1aabcc",
    "render_page_xml":
        "6eabd6a44ad04881fb08154c2bcd5cb23fed4822892e1bd62cf661da9daa4549",
    "render_page_xml_words":
        "353f5a39525bce3be336f30d78f919f597971a831ca5f34c6993222aa6b340ba",
    "render_pdf":
        "8d57b7edb55eacc925d90efcab80bafb514f02062d033ce3d81aeac8a533d012",
    "render_text":
        "dd9e013213927214d5242f88cd21c61c8ecc78a934f61f0211ee87060b1677e9",
    "render_tsv":
        "42caad50bb1ae4bd6df74a541fd9b025ef936d0e6c7a14d1e49bd38565ebac0f",
    "render_tsv_levels":
        "d9bf19d99f95d046805848a7517b38bef5ac96e387e7246d742391451925193d",
    "render_unlv":
        "e5642eb95db5f7ccd2268b138a556ddf98feda9b6605fca954f10ce528df179d",
    "repetition_stats":
        "9ff90712cb66930467a1d0a9d92a862a69783e9808b4858dc359aa7ea863d7ee",
    "returnflag_rollup":
        "ac29140a6cc1ca299b0f3595c22e0f23ff25d346bbfca7b02213af2aa9ae19cd",
    "revenue_by_nation":
        "bcf080de6e1274d7fdc476672a5b8d08843b705023a1ad9462927d06b2932406",
    "semdedup":
        "4b1e77ba0046eee4ade63e6c48e3c58a424e1a8f05299b3c6b6c3551abaf8c16",
    "semdedup_cluster_audit":
        "65c964f07dd582eee0bffa0bf315ac9f0e9fbd501e3665d69ae8e5a5684348ef",
    "simhash":
        "38862acd9243bfddc76468e5724ae188545e42ddbac7c0dd6120b0fb9e3d5564",
    "simhash_near_dup":
        "464b4558cc0c108cbe52f7cb7ced72aef8eb784f22c9ea89b7fe524d1d21607e",
    "snapshot_diff":
        "8c5592a85e76897d63a8531ce9d90a7f9fd60cce837b7228cb5a1053a935fac9",
    "source_quota":
        "aba53bfa8b281b7c705694f9cc4e3d3dc8be2bba271c5ca54d90e1e49841ef7c",
    "split_leak_audit":
        "6281619cc33471e90f48649b9391523614fd4e9aacb30ec628726875bcd20337",
    "stratified_sample":
        "897f25a9c4ec49f090a68dc3ac52968bf0e89eaa01cce995aa8fef6dabf31555",
    "strip_substrings":
        "6edb244b22e0c5110070203cdce008480817021b9e611309174ab51720f5ec42",
    "table_cells":
        "ad408b17a76f0e0de593616705774ce6e4c49f1b2db396ef55caf8e193bfa0d0",
    "table_structure":
        "780dc454c87f3866293fe3aba855023537c9eed8baf10ad57e7a27a2ae5f5e5e",
    "text_stats":
        "92660e92922f458a83325f6be22d09a4b37d56e85ea22386734d84b880a0108a",
    "thumbnails":
        "0bc6ad47db969d6106521d90d7588c536798fcf2b42b756ec2abc75a37932b9b",
    "top1_event_per_user":
        "56e970c6c0eca49f08cd6d1f05e083268d6f16bb7ed0bd30b821d5330ddb828c",
    "top_parts_by_brand":
        "7382d537fcb48b928109705fdb17afbd7435d6e6b57503f20eab053538ab56cf",
    "training_samples":
        "34a1a41f9b26bd65d009eb9af9ef47f604fe8cf72bb39d1a6acbb114cbd54d27",
    "user_event_sequence":
        "b0e7a1489e01aada65e3d0545cc5e07fcc104aac1e893da842dbd0056fb5e9d5",
    "vocab_topk":
        "d838a97d15fe190b60321fff3b1f0a7d9d712a0f28d820956ad0ddfdd686f8ba",
    "warc_ingest":
        "049796fea8331859d704d517318e1562e39f04a1a9b7c5bb77e02445d27426c6",
    "weighted_mixture":
        "98f565a2d12163acae114b57ab85465135d765c8592031f9c5ea3dd09bbcaeeb",
    "winnow_fp":
        "4471e5e4b2c63fcb1eba729ae729ef2d0b6f40b8e4c8f88b934857d1b7615143",
    "zone_override":
        "6894b084b0fec287878173de58c08ff447c30462e25d92acd4fecf8326021b5a",
}


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


@pytest.fixture(scope="module")
def contract():
    import __spark_entry__ as entry

    return entry.queries(), entry.oracle_sql()


def test_every_oracle_is_byte_identical(contract):
    _queries, oracles = contract
    changed = sorted(n for n, sql in oracles.items()
                     if ORACLE_SHA256.get(n) != _sha(sql))
    assert not changed


def test_combined_oracle_digest(contract):
    _queries, oracles = contract
    h = hashlib.sha256()
    for name in sorted(oracles):
        h.update(name.encode() + b"\0" + oracles[name].encode() + b"\0")
    assert h.hexdigest() == COMBINED_SHA256


def test_queries_and_oracles_share_the_99_names(contract):
    queries, oracles = contract
    assert len(queries) == len(oracles) == len(ORACLE_SHA256) == 99
    assert set(queries) == set(oracles) == set(ORACLE_SHA256)


def test_queries_come_from_the_registry(contract):
    from driver import REGISTRY

    queries, _oracles = contract
    assert set(REGISTRY) == set(queries)
    assert all(queries[n] is REGISTRY[n].build for n in queries)


def test_run_order_leads_with_the_unchecked_queries(contract):
    queries, _oracles = contract
    with open(os.path.join(REPO, "CORRECTNESS_r05.json")) as f:
        checked = set(json.load(f))
    unchecked = set(queries) - checked
    assert len(unchecked) == 49
    assert set(list(queries)[:49]) == unchecked


def _assigned_names(path: str, target: str) -> list:
    with open(path) as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == target
                        for t in node.targets)):
            return list(ast.literal_eval(node.value))
    raise AssertionError(f"no {target} in {path}")


def test_benchmark_query_names_resolve(contract):
    queries, _oracles = contract
    names = (_assigned_names(os.path.join(REPO, "bench.py"), "headline")
             + _assigned_names(
                 os.path.join(REPO, "scripts", "bench_sf_mutated.py"),
                 "QUERIES"))
    assert len(names) > 3
    assert not [n for n in names if n not in queries]


def test_runtime_package_never_imports_driver():
    offenders = []
    for root, _dirs, files in os.walk(os.path.join(REPO, "sparkstract")):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                mods = ([a.name for a in node.names]
                        if isinstance(node, ast.Import)
                        else [node.module or ""]
                        if isinstance(node, ast.ImportFrom) and not node.level
                        else [])
                if any(m == "driver" or m.startswith("driver.")
                       for m in mods):
                    offenders.append(os.path.relpath(path, REPO))
    assert not offenders
