package graft

import graft.ir._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Pins what `Engine.validate` reports for every operator that reads a
  * runtime artifact or launches Spark jobs: the exact schema its child
  * sees, the message of each parameter bound check, and that validation
  * starts no Spark job. The child is a registered custom action that
  * records its input schema.
  */
class ValidateShapeSpec extends AnyFunSuite {
  import TestSpark._
  import ValidateShapeSpec._

  private var seen: Option[StructType] = None
  private val ctx = EngineCtx(custom = Map("record" -> (_ => (df: DataFrame) => {
    seen = Some(df.schema); df
  })))

  /** (validate result, recorded child schema, Spark jobs started). */
  private def validate(action: String, params: String, input: String)
      : (Seq[String], Option[String], Int) = {
    val node = Node.fromJson(
      s"""{"action":"$action","params":[$params],"children":[{"action":"record"}]}""")
    seen = None
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    }
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val errs = Engine.validate(node, spark, ctx, StructType.fromDDL(input))
      ListenerBusDrain.drain(sc)
      (errs, seen.map(_.toDDL), jobs)
    } finally sc.removeSparkListener(listener)
  }

  test("every staged operator validates to its pinned output schema without a Spark job") {
    shapes.foreach { case (action, params, input, ddl) =>
      val (errs, child, jobs) = validate(action, params, input)
      assert(errs == Nil, s"$action: $errs")
      assert(child.contains(ddl), s"""$action: got "${child.getOrElse("")}"""")
      assert(jobs == 0, s"$action started $jobs Spark jobs")
    }
  }

  test("every bound check reports its message at validate time without a Spark job") {
    badParams.foreach { case (action, params, input, message) =>
      val (errs, _, jobs) = validate(action, params, input)
      assert(errs == Seq(s"/$action: $message"), s"$action: $errs")
      assert(jobs == 0, s"$action started $jobs Spark jobs")
    }
  }
}

object ValidateShapeSpec {
  /** Artifact paths that never exist: validation must not read them. */
  val missing = "validate-shape-missing-artifact"

  val docs = "id BIGINT, text STRING"
  val vecs = "id BIGINT, vec ARRAY<DOUBLE>, label DOUBLE"
  val pairs = "id1 BIGINT, id2 BIGINT, score DOUBLE"
  val values = "id BIGINT, g STRING, v DOUBLE"
  val edges = "src STRING, dst STRING"

  /** (action, params JSON, input DDL, child schema DDL). */
  val shapes: Seq[(String, String, String, String)] = Seq(
    ("bm25-query", s"""{"id":"id","text":"text","k":5,"index-path":"$missing"}""", docs,
      "query_id BIGINT,rank BIGINT NOT NULL,doc_id BIGINT,score DOUBLE"),
    ("dedup-delta", s"""{"id":"id","text":"text","store-path":"$missing"}""", docs,
      "id BIGINT,status STRING,dup_of BIGINT"),
    ("dedup-pair-eval", s"""{"truth-path":"$missing"}""", pairs,
      "tp BIGINT,fp BIGINT,fn BIGINT,precision DOUBLE,recall DOUBLE,f1 DOUBLE"),
    ("dedup-pair-eval-sweep", s"""{"truth-path":"$missing","thresholds":[0.5,0.8]}""", pairs,
      "threshold DOUBLE NOT NULL,tp BIGINT,fp BIGINT,fn BIGINT,precision DOUBLE,recall DOUBLE,f1 DOUBLE"),
    ("substring-probe", s"""{"id":"id","text":"text","store-path":"$missing"}""", docs,
      "id BIGINT,begin_tok BIGINT,end_tok BIGINT,n_tokens BIGINT"),
    ("score-logistic", s"""{"vec":"vec","model-path":"$missing","out":"p"}""", vecs,
      "id BIGINT,vec ARRAY<DOUBLE>,label DOUBLE,p DOUBLE NOT NULL"),
    ("decontam-overlap", s"""{"id":"id","text":"text","bench-path":"$missing"}""", docs,
      "id BIGINT,n_shingles BIGINT,n_overlap BIGINT,overlap_frac DOUBLE"),
    ("salted-join", s"""{"key":"text","id":"id","salts":4,"small-path":"$missing"}""", docs,
      "id BIGINT,text STRING"),
    ("decontam-fuzzy", s"""{"id":"id","text":"text","bench-path":"$missing"}""", docs,
      "id BIGINT,text STRING"),
    ("decontam-exact", s"""{"id":"id","text":"text","bench-path":"$missing","min-hits":3}""", docs,
      "id BIGINT,text STRING"),
    ("ks-drift", s"""{"value":"v","other-path":"$missing"}""", values,
      "ks DOUBLE,n_a BIGINT NOT NULL,n_b BIGINT NOT NULL"),
    ("vocab-drift", s"""{"text":"text","other-path":"$missing"}""", docs,
      "token STRING,cnt_a BIGINT,cnt_b BIGINT,p_a DOUBLE,p_b DOUBLE,delta DOUBLE"),
    ("vocab-kl", s"""{"text":"text","other-path":"$missing"}""", docs,
      "token STRING,cnt_a BIGINT,cnt_b BIGINT,p_a DOUBLE,p_b DOUBLE,delta DOUBLE,kl_term DOUBLE NOT NULL"),
    ("source-zscores", """{"group":"g","value":"v"}""", values,
      "id BIGINT,g STRING,v DOUBLE,zscore DOUBLE NOT NULL,is_outlier BOOLEAN NOT NULL"),
    ("psi-report", s"""{"value":"v","other-path":"$missing","edges":[0.0,1.0]}""", values,
      "bucket INT,n_a BIGINT,n_b BIGINT,psi DOUBLE"),
    ("kmv-overlap", s"""{"text":"text","other-path":"$missing","k":16}""", docs,
      "k_union BIGINT,h_k BIGINT,d_union DOUBLE,n_both BIGINT,jaccard DOUBLE,d_inter DOUBLE"),
    ("vocab-coverage", s"""{"group":"id","text":"text","vocab-path":"$missing"}""", docs,
      "id BIGINT,n_tokens BIGINT,n_oov BIGINT,oov_rate DOUBLE"),
    ("snapshot-diff", s"""{"key":"id","digest":"text","old-path":"$missing"}""", docs,
      "id BIGINT,old_digest STRING,new_digest STRING,status STRING"),
    ("refetch-candidates",
      s"""{"loc":"text","lastmod":"text","captures-path":"$missing"}""", docs,
      "id BIGINT,text STRING,urlkey STRING,last_capture_ts STRING,reason STRING"),
    ("train-logistic", """{"id":"id","vec":"vec","label":"label","dim":4}""", vecs,
      "dim INT,weight DOUBLE"),
    ("hard-negatives",
      s"""{"id":"id","vec":"vec","label":"label","anchors-path":"$missing","k":2}""", vecs,
      "query_id BIGINT,rank BIGINT,nn_id BIGINT,label BIGINT,cosine DOUBLE"),
    ("hard-negatives-bucketed",
      s"""{"id":"id","vec":"vec","label":"label","anchors-path":"$missing","k":2}""", vecs,
      "query_id BIGINT,rank BIGINT,nn_id BIGINT,label BIGINT,cosine DOUBLE"),
    ("el2n-scores", s"""{"vec":"vec","label":"label","model-path":"$missing"}""", vecs,
      "id BIGINT,vec ARRAY<DOUBLE>,label DOUBLE,el2n DOUBLE NOT NULL,grand DOUBLE NOT NULL"),
    ("prototype-ranks", s"""{"id":"id","vec":"vec","centroids-path":"$missing"}""", vecs,
      "id BIGINT,cell BIGINT NOT NULL,cosine DOUBLE NOT NULL,proto_rank INT NOT NULL"),
    ("cluster-prune",
      s"""{"id":"id","vec":"vec","centroids-path":"$missing","per-cluster":2}""", vecs,
      "id BIGINT,cell BIGINT NOT NULL,cosine DOUBLE NOT NULL"),
    ("kcenter-coreset", """{"id":"id","vec":"vec","k":2}""", vecs,
      "pick INT NOT NULL,center_id BIGINT NOT NULL,radius DOUBLE"),
    ("cartography", s"""{"vec":"vec","label":"label","trace-path":"$missing"}""", vecs,
      "id BIGINT,vec ARRAY<DOUBLE>,label DOUBLE,confidence DOUBLE NOT NULL,variability DOUBLE NOT NULL,correct_frac DOUBLE NOT NULL,region STRING NOT NULL"),
    ("jaccard-join", """{"id":"id","text":"text","threshold":0.5}""", docs,
      "id1 BIGINT,id2 BIGINT,jaccard DOUBLE"),
    ("bootstrap-ci", """{"val":"v","id":"id","group":["g"]}""", values,
      "g STRING,n BIGINT NOT NULL,point DOUBLE NOT NULL,ci_lo DOUBLE NOT NULL,ci_hi DOUBLE NOT NULL"),
    ("winnow-fingerprints", """{"id":"id","text":"text"}""", docs,
      "id BIGINT,pos BIGINT,fp BIGINT"),
    ("winnow-candidates", """{"id":"id","text":"text"}""", docs,
      "id1 BIGINT,id2 BIGINT,shared BIGINT"),
    ("edit-confirm", """{"id":"id","text":"text","min-sim":0.8}""", docs,
      "id1 BIGINT,id2 BIGINT,edit_dist BIGINT,edit_sim DOUBLE"),
    ("ivfpq-build", s"""{"id":"id","vec":"vec","path":"$missing"}""", vecs,
      "id BIGINT,vec ARRAY<DOUBLE>,label DOUBLE"),
    ("ivfpq-append", s"""{"id":"id","vec":"vec","path":"$missing"}""", vecs,
      "id BIGINT,vec ARRAY<DOUBLE>,label DOUBLE"),
    ("opq-build", s"""{"id":"id","vec":"vec","path":"$missing"}""", vecs,
      "id BIGINT,vec ARRAY<DOUBLE>,label DOUBLE"),
    ("opq-query", s"""{"id":"id","vec":"vec","index-path":"$missing","k":3}""", vecs,
      "query_id BIGINT,rank BIGINT NOT NULL,nn_id BIGINT NOT NULL,score DOUBLE NOT NULL"),
    ("ivfpq-query", s"""{"id":"id","vec":"vec","index-path":"$missing","k":3}""", vecs,
      "query_id BIGINT,rank BIGINT NOT NULL,nn_id BIGINT NOT NULL,score DOUBLE NOT NULL"),
    ("mmr-rerank", """{"query":"label","id":"id","rel":"label","vec":"vec","k":3}""", vecs,
      "label BIGINT,mmr_rank INT NOT NULL,id BIGINT NOT NULL,mmr_score DOUBLE NOT NULL"),
    ("pca-train", s"""{"vec":"vec","dim":4,"k":2,"path":"$missing"}""", vecs,
      "component INT NOT NULL,eig_val DOUBLE NOT NULL,row ARRAY<DOUBLE>"),
    ("pca-whiten", s"""{"vec":"vec","model-path":"$missing","out":"w"}""", vecs,
      "id BIGINT,vec ARRAY<DOUBLE>,label DOUBLE,w ARRAY<DOUBLE> NOT NULL"),
    ("pca-project", s"""{"vec":"vec","model-path":"$missing","out":"w"}""", vecs,
      "id BIGINT,vec ARRAY<DOUBLE>,label DOUBLE,w ARRAY<DOUBLE> NOT NULL"),
    ("ngram-train", s"""{"text":"text","n":2,"alpha":1.0,"path":"$missing"}""", docs,
      "ctx STRING,word STRING,cnt BIGINT NOT NULL"),
    ("ngram-score", s"""{"text":"text","id":"id","model-path":"$missing"}""", docs,
      "id BIGINT,text STRING,n_scored BIGINT NOT NULL,logprob DOUBLE NOT NULL,cross_entropy DOUBLE NOT NULL,ppl DOUBLE NOT NULL"),
    ("kn-train", s"""{"text":"text","path":"$missing"}""", docs,
      "ctx STRING,word STRING,cnt BIGINT NOT NULL"),
    ("kn-score", s"""{"text":"text","id":"id","model-path":"$missing"}""", docs,
      "id BIGINT,text STRING,n_scored BIGINT NOT NULL,logprob DOUBLE NOT NULL,cross_entropy DOUBLE NOT NULL,ppl DOUBLE NOT NULL"),
    ("sb-score", s"""{"text":"text","id":"id","model-path":"$missing"}""", docs,
      "id BIGINT,text STRING,n_scored BIGINT NOT NULL,logprob DOUBLE NOT NULL,cross_entropy DOUBLE NOT NULL,ppl DOUBLE NOT NULL"),
    ("bpe-train", """{"text":"text","merges":10}""", docs,
      "rank INT NOT NULL,left STRING,right STRING,pair_count BIGINT NOT NULL"),
    ("unigram-train", """{"text":"text","vocab":10}""", docs,
      "piece STRING,logp DOUBLE NOT NULL"),
    ("unigram-encode", s"""{"text":"text","model-path":"$missing","out":"pieces"}""", docs,
      "id BIGINT,text STRING,pieces ARRAY<STRING> NOT NULL"),
    ("wordpiece-train", """{"text":"text","merges":10}""", docs,
      "piece STRING NOT NULL,rank INT NOT NULL"),
    ("wordpiece-encode", s"""{"text":"text","model-path":"$missing","out":"pieces"}""", docs,
      "id BIGINT,text STRING,pieces ARRAY<STRING> NOT NULL"),
    ("bpe-encode", s"""{"text":"text","model-path":"$missing","out":"pieces"}""", docs,
      "id BIGINT,text STRING,pieces ARRAY<STRING> NOT NULL"),
    ("cms-topk", """{"text":"text","depth":4,"width":64,"k":5}""", docs,
      "token STRING,est BIGINT NOT NULL"),
    ("heavy-hitters", """{"text":"text","k":5}""", docs,
      "token STRING,cnt BIGINT NOT NULL"),
    ("hll-distinct", """{"text":"text","b":8}""", docs,
      "m BIGINT NOT NULL,n_zero BIGINT NOT NULL,est DOUBLE NOT NULL"),
    ("pagerank", """{"src":"src","dst":"dst"}""", edges,
      "node STRING,rank DOUBLE NOT NULL"),
    ("hits", """{"src":"src","dst":"dst"}""", edges,
      "node STRING,auth DOUBLE NOT NULL,hub DOUBLE NOT NULL"),
    ("doremi-weights", """{"domain":"g","loss":"v","ref":1.0}""", values,
      "domain STRING,n BIGINT NOT NULL,excess DOUBLE NOT NULL,weight DOUBLE"),
    ("doremi-reweight", """{"domain":"g","loss":"v","ref":1.0,"id":"id"}""", values,
      "id BIGINT,g STRING,v DOUBLE,copy BIGINT NOT NULL"),
    ("kmv-quantiles", """{"id":"id","value":"v","k":16,"qs":[0.5]}""", values,
      "q DOUBLE NOT NULL,value DOUBLE NOT NULL"),
    ("kmv-distinct", """{"text":"text","k":16}""", docs,
      "k_kept BIGINT NOT NULL,h_k BIGINT NOT NULL,est DOUBLE NOT NULL"))

  /** (action, params JSON, input DDL, message) — one case per bound check. */
  val badParams: Seq[(String, String, String, String)] = Seq(
    ("bm25-query", s"""{"id":"id","text":"text","k":0,"index-path":"$missing"}""", docs,
      "requirement failed: bm25-query: k must be >= 1"),
    ("dedup-pair-eval-sweep", s"""{"truth-path":"$missing","thresholds":[]}""", pairs,
      "requirement failed: dedup-pair-eval-sweep: empty threshold grid"),
    ("salted-join", s"""{"key":"text","id":"id","salts":0,"small-path":"$missing"}""", docs,
      "requirement failed: salted-join: salts must be >= 1"),
    ("decontam-exact", s"""{"id":"id","text":"text","bench-path":"$missing","min-hits":0}""", docs,
      "requirement failed: decontam-exact: min-hits must be >= 1"),
    ("psi-report", s"""{"value":"v","other-path":"$missing","edges":[]}""", values,
      "requirement failed: psi-report: empty edges"),
    ("kmv-overlap", s"""{"text":"text","other-path":"$missing","k":1}""", docs,
      "requirement failed: kmv-overlap: k must be >= 2"),
    ("cluster-prune",
      s"""{"id":"id","vec":"vec","centroids-path":"$missing","per-cluster":0}""", vecs,
      "requirement failed: cluster-prune: per-cluster must be >= 1"),
    ("kcenter-coreset", """{"id":"id","vec":"vec","k":0}""", vecs,
      "requirement failed: kcenter-coreset: k must be >= 1"),
    ("jaccard-join", """{"id":"id","text":"text","threshold":1.0}""", docs,
      "requirement failed: jaccard-join: threshold must be in (0,1)"),
    ("bootstrap-ci", """{"val":"v","id":"id","group":[]}""", values,
      "requirement failed: bootstrap-ci: group must be non-empty"),
    ("bootstrap-ci", """{"val":"v","id":"id","group":["g"],"alpha":1.5}""", values,
      "requirement failed: bootstrap-ci: alpha must be in (0,1)"),
    ("bootstrap-ci", """{"val":"v","id":"id","group":["g"],"r":0}""", values,
      "requirement failed: bootstrap-ci: r must be >= 1"),
    ("winnow-fingerprints", """{"id":"id","text":"text","k":0}""", docs,
      "requirement failed: winnow-fingerprints: k must be >= 1"),
    ("winnow-fingerprints", """{"id":"id","text":"text","w":0}""", docs,
      "requirement failed: winnow-fingerprints: w must be >= 1"),
    ("winnow-candidates", """{"id":"id","text":"text","min-shared":0}""", docs,
      "requirement failed: winnow-candidates: min-shared must be >= 1"),
    ("winnow-candidates", """{"id":"id","text":"text","max-df":1}""", docs,
      "requirement failed: winnow-candidates: max-df must be >= 2"),
    ("edit-confirm", """{"id":"id","text":"text","min-sim":1.5}""", docs,
      "requirement failed: edit-confirm: min-sim must be in [0,1]"),
    ("edit-confirm", """{"id":"id","text":"text","min-sim":0.8,"max-len":0}""", docs,
      "requirement failed: edit-confirm: max-len must be >= 1"),
    ("opq-query", s"""{"id":"id","vec":"vec","index-path":"$missing","k":0}""", vecs,
      "requirement failed: opq-query: k must be >= 1"),
    ("ivfpq-query", s"""{"id":"id","vec":"vec","index-path":"$missing","k":0}""", vecs,
      "requirement failed: ivfpq-query: k must be >= 1"),
    ("mmr-rerank", """{"query":"label","id":"id","rel":"label","vec":"vec","k":0}""", vecs,
      "requirement failed: mmr-rerank: k must be >= 1"),
    ("mmr-rerank",
      """{"query":"label","id":"id","rel":"label","vec":"vec","k":3,"lambda":2.0}""", vecs,
      "requirement failed: mmr-rerank: lambda must be in [0,1]"),
    ("unigram-train", """{"text":"text","vocab":10,"mode":"medium"}""", docs,
      "requirement failed: unigram-train: mode must be 'hard' or 'soft', got 'medium'"),
    ("hits", """{"src":"src","dst":"dst","iters":0}""", edges,
      "requirement failed: hits: iters must be >= 1"),
    ("output-zordered", s"""{"path":"$missing","shards":0,"cols":["id"]}""", docs,
      "requirement failed: shards must be >= 1"),
    ("output-hilbert", s"""{"path":"$missing","shards":0,"x":"id","y":"id"}""", docs,
      "requirement failed: shards must be >= 1"))
}
