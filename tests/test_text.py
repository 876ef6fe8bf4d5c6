from pyspark.sql import functions as F

from py3dtiles_spark.functions import text as T


def _df(spark):
    return spark.createDataFrame(
        [(0, "the cat and the dog went to the house of cards"),
         (1, "le chat et le chien est dans la maison de une ville"),
         (2, "der hund und die katze ist ein tier und das haus"),
         (3, "xyzzy plugh qwerty"),
         (4, "a, b; c! d? e.")],
        "doc_id long, text string")


def test_token_counts(spark):
    got = {r.doc_id: r.n for r in
           _df(spark).select("doc_id", T.token_count().alias("n")).collect()}
    assert got[0] == 11 and got[3] == 3


def test_lang_id(spark):
    got = {r.doc_id: r.lang for r in
           _df(spark).select("doc_id", T.lang_id().alias("lang")).collect()}
    assert got[0] == "en" and got[1] == "fr" and got[2] == "de"
    assert got[3] == "und"


def test_quality_and_ratios(spark):
    rows = _df(spark).select(
        "doc_id", T.quality_score().alias("q"),
        T.punct_ratio().alias("p"), T.stopword_ratio().alias("s")).collect()
    by = {r.doc_id: r for r in rows}
    assert 0 <= by[0].q <= 1
    assert by[4].p > by[0].p          # punctuation-heavy doc
    assert by[0].s > by[3].s          # English stopwords present


def test_fingerprint_deterministic_and_shift_sensitive(spark):
    df = _df(spark)
    a = df.select("doc_id", T.fingerprint(shingle_tokens=3).alias("fp"))
    b = df.select("doc_id", T.fingerprint(shingle_tokens=3).alias("fp"))
    assert a.collect() == b.collect()
    # identical text -> identical fingerprint
    dup = spark.createDataFrame(
        [(0, "one two three four five"), (1, "one two three four five")],
        "doc_id long, text string")
    fps = [r.fp for r in dup.select(T.fingerprint(shingle_tokens=3).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_substring_dup_stats_hand_computed(spark):
    # shingle_tokens=2 corpus, dup = shingle string at >=2 positions
    # ANYWHERE (cross-doc "a b", cross-doc short-doc "z", within-doc
    # "p q"/"q p" repeats)
    df = spark.createDataFrame(
        [(0, "a b c"),       # "a b" dup (d1), "b c" unique -> 1/2
         (1, "a b x"),       # "a b" dup, "b x" unique      -> 1/2
         (2, "z"),           # short doc: whole-doc window, dup (d3)
         (3, "z"),
         (4, "p q p q p")],  # all 4 windows repeat within the doc
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           T.substring_dup_stats(df, shingle_tokens=2).collect()}
    assert (got[0].n_shingles, got[0].dup_shingles, got[0].dup_frac) \
        == (2, 1, 0.5)
    assert (got[1].n_shingles, got[1].dup_shingles, got[1].dup_frac) \
        == (2, 1, 0.5)
    assert (got[2].n_shingles, got[2].dup_frac) == (1, 1.0)
    assert (got[3].n_shingles, got[3].dup_frac) == (1, 1.0)
    assert (got[4].n_shingles, got[4].dup_shingles, got[4].dup_frac) \
        == (4, 4, 1.0)


def test_substring_dup_filters_empty_tokens(spark):
    # double spaces must not create '' tokens that alias across docs
    df = spark.createDataFrame(
        [(0, "a  b"), (1, "c d")], "doc_id long, text string")
    got = {r.doc_id: r for r in
           T.substring_dup_stats(df, shingle_tokens=2).collect()}
    assert got[0].n_shingles == 1 and got[0].dup_shingles == 0


def test_unigram_logprob_hand_computed(spark):
    import math
    # corpus: a:3 b:2 c:1 -> T=6, V=3; p = (c+1)/(T+V)
    df = spark.createDataFrame(
        [(0, "a a a b"), (1, "b c")], "doc_id long, text string")
    got = {r.doc_id: r for r in T.unigram_logprob(df).collect()}
    pa, pb, pc = 4 / 9, 3 / 9, 2 / 9
    exp0 = round((3 * math.log(pa) + math.log(pb)) / 4, 6)
    exp1 = round((math.log(pb) + math.log(pc)) / 2, 6)
    assert got[0].n_tokens == 4 and abs(got[0].logprob - exp0) < 1e-9
    assert got[1].n_tokens == 2 and abs(got[1].logprob - exp1) < 1e-9


def test_contamination_stats_hand_computed(spark):
    # eval = {d9}: "a b" + "b c" windows (shingle_tokens=2)
    train = spark.createDataFrame(
        [(0, "a b c"),      # both windows in eval -> 2/2, flagged
         (1, "a b x"),      # "a b" hits, "b x" doesn't -> 1/2, flagged
         (2, "p q r"),      # clean
         (9, "a b c")],     # the eval doc itself: full self-hit
        "doc_id long, text string")
    ev = train.filter("doc_id = 9")
    got = {r.doc_id: r for r in
           T.contamination_stats(train, ev, shingle_tokens=2).collect()}
    assert (got[0].n_shingles, got[0].contaminated,
            got[0].is_contaminated) == (2, 2, 1)
    assert (got[1].contaminated, got[1].is_contaminated) == (1, 1)
    assert (got[2].contaminated, got[2].is_contaminated) == (0, 0)
    assert got[9].is_contaminated == 1


def _curate_docs(spark, path):
    spark.createDataFrame(
        [(0, "the cat sat on the mat and then sat some more today ok"),
         (1, "the cat sat on the mat and then sat some more today ok"),
         (2, "completely different words entirely unlike anything else"),
         (3, "held out eval document with its own distinct words"),
         (4, None)],   # NULL text: must appear in signals with kept=0,
                       # not silently vanish from the outputs/counts
        "doc_id long, text string").write.mode("overwrite").parquet(path)


def test_curate_cli_end_to_end(spark, tmp_path, capsys):
    # the curate subcommand composes the curation operators into one job:
    # signals parquet + kept subset + scalar JSON summary
    import json

    from py3dtiles_spark.__main__ import main

    src = str(tmp_path / "docs.parquet")
    ev = str(tmp_path / "eval.parquet")
    _curate_docs(spark, src)
    spark.createDataFrame(
        [(0, "held out eval document with its own distinct words")],
        "doc_id long, text string").write.mode("overwrite").parquet(ev)
    out = str(tmp_path / "out")
    rc = main(["curate", "--input", src, "--output", out,
               "--eval-input", ev, "--cpus", "4"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # doc 1 is an exact dup of doc 0 (dropped), doc 3 matches the eval
    # set (contaminated), doc 4 has no tokens, docs 0 and 2 survive
    assert summary["docs"] == 5 and summary["kept"] == 2
    assert summary["contaminated"] == 1
    sig = {r.doc_id: r for r in spark.read.parquet(f"{out}/signals").collect()}
    assert sig[1].is_canonical == 0 and sig[0].is_canonical == 1
    assert sig[3].is_contaminated == 1
    assert sig[4].kept == 0 and sig[4].logprob is None   # retained row
    kept = {r.doc_id for r in spark.read.parquet(f"{out}/kept").collect()}
    assert kept == {0, 2}

    # --dedup none: every doc is canonical, so the exact dup 1 survives
    out = str(tmp_path / "out_none")
    rc = main(["curate", "--input", src, "--output", out,
               "--eval-input", ev, "--dedup", "none", "--cpus", "4"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["dups_dropped"] == 0 and summary["kept"] == 3
    sig = spark.read.parquet(f"{out}/signals").collect()
    assert len(sig) == 5 and all(r.is_canonical == 1 for r in sig)
    kept = {r.doc_id for r in spark.read.parquet(f"{out}/kept").collect()}
    assert kept == {0, 1, 2}


def test_curate_dedup_shuffles_digests_not_text(spark, tmp_path):
    """In the executed plans of `curate --dedup exact`, every exchange
    keyed by the md5 digest sits on a partial WindowGroupLimit (rank 1 is
    kept map-side) and its input carries no `text` attribute: the dedup
    shuffle ships 32-hex-char keys, never document bodies."""
    import re

    from py3dtiles_spark.__main__ import main

    src = str(tmp_path / "docs.parquet")
    _curate_docs(spark, src)
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(k) for k in range(seq.size())]

    seen = max((e.executionId() for e in executions()), default=-1)
    assert main(["curate", "--input", src, "--output",
                 str(tmp_path / "out"), "--cpus", "4"]) == 0
    # formatted explain: a tree of "Name (id)" lines, then one
    # "(id) Name" block of Input/Output/Arguments lines per operator
    plans = [e.physicalPlanDescription() for e in executions()
             if e.executionId() > seen]
    checked = 0
    for plan in plans:
        nodes = {int(m[1]): (m[2], m[3]) for m in re.finditer(
            r"^\((\d+)\) (\w+)[^\n]*\n((?:.+\n?)*)", plan, re.M)}
        digests = set(re.findall(r"md5\([^\n]*?\) AS (\w+#\d+)", plan))
        for m in re.finditer(r"Exchange \((\d+)\)\n[ :|]*\+- (\w+) "
                             r"\((\d+)\)", plan):
            body = nodes[int(m[1])][1]
            key = re.search(r"Arguments: hashpartitioning\((\w+#\d+)", body)
            if not key or key[1] not in digests:
                continue
            child, child_body = nodes[int(m[3])]
            assert child == "WindowGroupLimit" and "Partial" in child_body
            assert "text#" not in re.search(r"Input \[\d+\]: (.*)", body)[1]
            checked += 1
    assert checked, "no md5-keyed exchange in curate's executed plans"
