import sys, io, contextlib
sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F
from lumbermill_spark.session import get_spark
from lumbermill_spark.operators.regex_parser import RegexParser
from lumbermill_spark.operators import field_actions
from lumbermill_spark.pipelines_builtin import ACCESS_RULES, HTTP_STATUS_MAP
from lumbermill_spark.router import SinkSpec, route_tag
from lumbermill_spark.operators.lookup import enrich

spark = get_spark("plans", cores=8, extra_conf={"spark.ui.showConsoleProgress": "false"})
df = spark.read.parquet("/tmp/lms_bench/tokens")

def fmt(d):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        d.explain("formatted")
    return buf.getvalue()

parsed = RegexParser(ACCESS_RULES).apply(df, tokens_col="tokens", drop_tokens=True)
pre = parsed.groupBy("event_type", "http_status").agg(
    F.count(F.lit(1)).alias("n_rows"), F.sum("n_tok").cast("long").alias("sum_tok"))
enriched = field_actions.map_(pre, "http_status", HTTP_STATUS_MAP, target_field="status_class")
sinks = [SinkSpec("web", F.col("event_type").isin("httpd_access_log", "nginx_access_log")),
         SinkSpec("firewall", F.col("event_type") == "iptables_log"),
         SinkSpec("unmatched", None)]
flag = route_tag(enriched, sinks).groupBy("sink", "event_type", "status_class").agg(
    F.sum("n_rows").alias("n_rows"), F.sum("sum_tok").alias("sum_tok"))

pushed = df.filter(F.col("source") == "apache").select("doc_id", "n_tok")
lk = spark.createDataFrame([("apache", "web"), ("nginx", "web")], "source string, family string")
joined = enrich(df.select("doc_id", "source", "n_tok"), lk, on="source")

out = open("/root/repo/PLANS.md", "w")
out.write("""# PLANS — annotated physical plans for the headline pipeline

Generated by `tools/gen_plans.py` on the 2M-row token table
(regenerate after plan-affecting changes; properties are additionally
locked by `tests/test_plans.py`).

## 1. Flagship parse → pre-aggregate → enrich/route → final aggregate

What to see:
- ONE `MapInArrow` node (the zero-copy token decode) — the only Python
  in the plan;
- the regex projection sits directly above it, inside whole-stage
  codegen;
- `HashAggregate(partial)` BEFORE the exchange: the shuffle carries one
  row per (event_type, http_status) per partition (~tens of rows), not
  2M events;
- the enrich map / sink tag / final aggregate operate on the tiny
  post-shuffle side;
- NO Filter node below the pre-aggregate: the routing uses a catch-all
  final sink, so route_tag emits no null-drop filter — each rule's
  RLIKE appears exactly once (in the _rule_idx projection), where
  round 2's pushed drop-filter re-inlined the regex CASE ~6x per row.

```
""")
out.write(fmt(flag))
out.write("""```

## 2. Filter pushdown + column pruning at the scan

`source = 'apache'` reaches the parquet reader as PushedFilters and the
ReadSchema carries only the selected columns (the wide `tokens` column
is not read when unused):

```
""")
out.write(fmt(pushed))
out.write("""```

## 3. Broadcast enrichment

The lookup side ships to executors once; the fact side never shuffles
(`BroadcastHashJoin`, no `SortMergeJoin`/`Exchange` on the big side):

```
""")
out.write(fmt(joined))
out.write("""```

## 4. n-gram Jaccard pairs (q19): one scan, window stats, reused exchange

The round-2 plan: document frequency (`max_df` guard) and per-doc set
size are WINDOW counts over one exploded frame — no join-backs that
would re-execute the explode — and the pair self-join's two sides
canonicalize to the identical subtree, so the (block, hash) shuffle is
planned once (`ReusedExchange` appears in the executed/AQE plan):

```
""")
from lumbermill_spark.training import dedup, similarity  # noqa: E402

docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.05,
                                  block_col="source", max_df=1000)
out.write(fmt(pairs))
out.write("""```

## 5. Multi-table SRP-LSH ANN (q24): one Arrow matmul, bucket equi-join

All T×P hyperplane dots are ONE vectorized pandas UDF (ArrowEvalPython
node) per side; candidates come from a plain (table, bucket) equi-join
— never a hamming theta-join — and the pair dedupe + top-k window run
on the slim candidate set:

```
""")
emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
ann = similarity.ann_lsh_topk(emb, emb.filter(F.col("vec_id") < 10),
                              dim=64, k=5, num_planes=4, num_tables=16)
out.write(fmt(ann))
out.write("""```

## 6. Tokenizer vocab + OOV (q67): TakeOrdered vocab, broadcast membership

The vocabulary is a per-partition top-K merge (`TakeOrderedAndProject`
— no full sort, driver holds K rows) built over the partial-aggregated
(doc, word) counts; the per-doc membership test is an explicit
`BroadcastHashJoin` so the corpus side never shuffles for it; the only
corpus-keyed exchange is the final per-doc aggregate:

```
""")
from lumbermill_spark.training import tokenize  # noqa: E402

oov = tokenize.vocab_oov(docs, vocab_size=20)
out.write(fmt(oov))
out.write("""```

## 7. Line-level dedup (q75): window over line values, no self-join

Boilerplate-line removal is ONE line-keyed exchange (the window count
over `PARTITION BY line` — no `Join` node anywhere in the plan) plus
the doc-keyed rebuild aggregate. A corpus-scale repeated line costs a
hot window partition of slim rows, never a quadratic candidate join:

```
""")
from lumbermill_spark.training import dedup as _dedup  # noqa: E402

ld = _dedup.line_dedup(docs.select("doc_id", F.col("text")),
                       mode="drop_frequent", min_count=3)
out.write(fmt(ld))
out.write("```\n")
out.close()
print("written")
