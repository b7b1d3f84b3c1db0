package graft.sources.sstable.spark

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.DerivedStoreLayoutSpec.{Docs, Vecs}
import graft.streaming.StreamingDfUpdate

/** Pin of the whole `CALL` surface: every procedure's description, its
  * parameters in order (name, type, SQL default literal, comment) and
  * the schema of the receipt a real call returns (names, types,
  * nullability — `?` marks a nullable field or element). Parameters are
  * read through `loadProcedure`; receipt schemas come from
  * `spark.sql("CALL …").schema` on an in-spec fixture, so each of the
  * 37 procedures runs once. On a mismatch the failure message prints
  * the actual literal. */
class ProcedureSurfaceSpec extends AnyFunSuite {
  import ProcedureSurfaceSpec._

  private lazy val warehouse: String =
    Files.createTempDirectory("graft-surface-wh").toString
  private lazy val src: String =
    Files.createTempDirectory("graft-surface-src").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("spark.sql.catalog.graft_ps", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_ps.warehouse", warehouse)
    s.sql("CREATE NAMESPACE graft_ps.ps")
    val sp = s
    import sp.implicits._
    Docs.toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$src/documents.parquet")
    Vecs.map { case (id, v) => (id, v.map(_.toFloat), (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label").coalesce(1)
      .write.parquet(s"$src/embeddings.parquet")
    s
  }

  private def typeOf(t: DataType): String = t match {
    case s: StructType => s.fields.map(f =>
      s"${f.name}:${typeOf(f.dataType)}${if (f.nullable) "?" else ""}")
      .mkString("struct<", ",", ">")
    case a: ArrayType =>
      s"array<${typeOf(a.elementType)}${if (a.containsNull) "?" else ""}>"
    case m: MapType =>
      s"map<${typeOf(m.keyType)},${typeOf(m.valueType)}" +
        s"${if (m.valueContainsNull) "?" else ""}>"
    case o => o.catalogString
  }

  /** Word-wrap long text into pinned lines of about 96 characters. */
  private def wrap(prefix: String, text: String): Seq[String] =
    text.split(" ").foldLeft(Vector(prefix)) { (acc, w) =>
      if (acc.last.length + w.length >= 96) acc :+ s"  $w"
      else acc.init :+ s"${acc.last} $w"
    }

  private def surfaceOf(name: String, proc: org.apache.spark.sql.connector
      .catalog.procedures.UnboundProcedure, receipt: StructType): Seq[String] =
    wrap("description:", proc.description()) ++
      proc.bind(new StructType()).parameters().toSeq.flatMap { p =>
        Seq(s"param ${p.name()} ${typeOf(p.dataType())} default=" +
          Option(p.defaultValue()).map(_.getSql).getOrElse("<required>")) ++
          Option(p.comment()).toSeq.flatMap(c => wrap("  comment:", c))
      } :+ s"receipt ${typeOf(receipt)}"

  test("every CALL procedure keeps its description, parameters and " +
    "receipt schema") {
    val receipts = scala.collection.mutable.LinkedHashMap.empty[String, StructType]
    def call(proc: String, args: String = ""): Unit =
      receipts(proc) = spark.sql(s"CALL graft_ps.system.$proc($args)").schema
    def insert(key: String): Unit = spark.sql(
      s"INSERT INTO graft_ps.ps.t VALUES (CAST('$key' AS BINARY), " +
        "array(named_struct('name', CAST('c' AS BINARY), 'state', 'NORMAL', " +
        "'value', CAST('v' AS BINARY), 'timestamp', CAST(1 AS BIGINT), " +
        "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))), " +
        "CAST(NULL AS STRUCT<localDeletionTime: INT, markedForDeleteAt: BIGINT>))")

    // table maintenance on a two-generation plain table
    spark.sql("CREATE TABLE graft_ps.ps.t")
    insert("k1"); insert("k2")
    val t = "table => 'ps.t'"
    call("compact", s"$t, min_threshold => 2")
    call("compact_leveled", t)
    call("compact_tombstones", t)
    call("snapshot", s"$t, tag => 's1'")
    call("rollback", s"$t, tag => 's1'")
    call("drop_snapshot", s"$t, tag => 's1'")
    call("expire_snapshots", t)
    call("vacuum", t)
    call("expire_history", t)
    call("scrub", t)
    call("lookup", s"$t, keys => array(CAST('k1' AS BINARY))")
    call("maintenance_status", t)
    call("rebucket", s"$t, new_buckets => 2")
    call("compact_bucketed", t)

    // the derived stores over the in-spec corpus
    val sig = s"table => 'ps.sig', source_dir => '$src'"
    val df = s"table => 'ps.df', source_dir => '$src'"
    val ann = s"table => 'ps.ann', source_dir => '$src'"
    call("update_signatures", sig)
    call("retract_signatures", "table => 'ps.sig', where => 'doc_id = 1'")
    call("update_doc_freqs", df)
    call("consolidate_doc_freqs", "table => 'ps.df'")
    call("audit_doc_freqs", "table => 'ps.df'")
    call("retract_doc_freqs", s"$df, where => 'doc_id = 2'")
    call("build_ann_index", s"$ann, kind => 'ivfpq', k => 2, iters => 1, " +
      "m => 2, pq_k => 2, pq_iters => 1, where => 'vec_id < 10'")
    call("update_ann_index", ann)
    call("cover_ann_index", ann)
    call("ann_drift", "table => 'ps.ann'")
    call("retract_ann_vectors", "table => 'ps.ann', where => 'vec_id = 0'")
    val streamDir = Files.createTempDirectory("graft-surface-sdf").toString
    val sp = spark
    import sp.implicits._
    StreamingDfUpdate.processBatch(Docs.take(4).toDF("doc_id", "text"),
      streamDir, 0L)
    call("retract_doc_freqs_stream", s"store_dir => '$streamDir', " +
      s"source_dir => '$src', where => 'doc_id = 1'")

    // takedown family and the registry-spanning audits
    val stores = "sig_table => 'ps.sig', ann_table => 'ps.ann', " +
      "df_table => 'ps.df'"
    call("takedown", s"source_dir => '$src', where => 'doc_id = 3', $stores")
    call("takedown_status", s"where => 'doc_id = 3', $stores")
    call("takedown_ledger")
    call("readmit", "where => 'doc_id = 3'")
    call("derived_stores")
    call("health")

    // the trash lifecycle
    spark.sql("DROP TABLE graft_ps.ps.t")
    call("list_trash", "namespace => 'ps'")
    call("undrop_table", t)
    call("vacuum_trash", "namespace => 'ps'")
    spark.sql("CREATE NAMESPACE graft_ps.gone")
    spark.sql("DROP NAMESPACE graft_ps.gone")
    call("undrop_namespace", "namespace => 'gone'")
    call("release_serving_caches")

    val catalog = new GraftCatalog()
    catalog.initialize("graft_ps",
      new CaseInsensitiveStringMap(Map("warehouse" -> warehouse).asJava))
    val names = catalog.listProcedures(Array("system")).map(_.name()).toSeq
    assert(names == receipts.keys.toSeq.sorted,
      s"procedures listed: $names; called: ${receipts.keys.toSeq.sorted}")
    val got = names.map { n =>
      n -> surfaceOf(n, catalog.loadProcedure(
        Identifier.of(Array("system"), n)), receipts(n))
    }.toMap
    val mismatched = names.filter(n => !Expected.get(n).contains(got(n)))
    if (mismatched.nonEmpty || Expected.keySet != names.toSet) fail(
      s"procedure surface changed for: ${mismatched.mkString(", ")}\n" +
        s"actual literal:\n" + names.map { n =>
          s"  \"$n\" -> Seq(\n" + got(n).map(l => "    \"" +
            l.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
            .mkString(",\n") + ")"
        }.mkString(",\n"))
  }
}

object ProcedureSurfaceSpec {
  val Expected: Map[String, Seq[String]] = Map(
  "ann_drift" -> Seq(
    "description: quantizer drift statistic: compare how well POST-BUILD epochs' vectors assign under",
    "  the index's persisted quantizers vs the BUILD epoch's (best-assignment cosine; coarse",
    "  centroids for ivf/ivfpq, per-subspace codebook mean for pq) — with ZERO corpus IO (a covering",
    "  index stores the raw vectors, each stamped with its ingest epoch). Retraction/re-admission",
    "  churn never retrains quantizers (correct — they are trained artifacts), so without this signal",
    "  recall decays silently as the corpus shifts. driftRatio = (1 - postMeanSim) / (1 -",
    "  buildMeanSim), 10000 = 1.0: ~10000 on same-distribution ingest is healthy; a sustained ratio",
    "  above ~15000 with a material nPost means the quantizers no longer represent the corpus —",
    "  schedule CALL build_ann_index (serving swaps atomically). Read-only. A COVERING index measures",
    "  with zero corpus IO; a non-covering one passes source_dir => <the pinned corpus> for the",
    "  corpus-IO fallback (epochs from the index's assignment cells, vectors from the corpus — one",
    "  corpus scan), breaking the cover<->drift circularity (cover refuses on drift; drift used to",
    "  require cover)",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param source_dir string default=NULL",
    "  comment: corpus-IO fallback for a NON-covering index: must equal the index's pinned source;",
    "  ignored when the index stores raw vectors",
    "param tolerate_missing boolean default=false",
    "  comment: fallback mode during LIVE corpus churn (round 18): index vectors the corpus no longer",
    "  holds are dropped from the statistic and counted in the receipt's 'missing' column, instead of",
    "  refusing the measurement. Default keeps the refusal (a silent drop would bias the means",
    "  invisibly)",
    "receipt struct<nBuild:bigint,nPost:bigint,buildMeanSim_e4:bigint,postMeanSim_e4:bigint,buildP05Sim_e4:bigint,postP05Sim_e4:bigint,driftRatio_e4:bigint,missing:bigint>"),
  "audit_doc_freqs" -> Seq(
    "description: run the df store's additivity sentinel ON DEMAND: verify that the signed sum of the",
    "  _n epoch partials equals the live membership-marker count (with no duplicate marker versions",
    "  on append-only stores) — the invariant that breaks exactly when a duplicating or",
    "  double-retracting interleave corrupted the additive statistics. The maintenance CALLs run this",
    "  after every append/retraction; this CALL exposes it for operational checks (post-undrop,",
    "  post-restore, periodic fleet audits). Returns the verified counts; an inconsistent store",
    "  throws the same loud diagnosis the maintainers raise",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "receipt struct<nDocs:bigint,liveMarkers:bigint,consistent:boolean>"),
  "build_ann_index" -> Seq(
    "description: train an ANN index over an embeddings corpus (any Spark-readable directory whose",
    "  embeddings table has vec_id BIGINT + embedding ARRAY<FLOAT>) and persist it as THIS catalog",
    "  table via one atomic CREATE OR REPLACE: coarse k-medians centroids (kind 'ivf'), PQ codebooks",
    "  (kind 'pq') or both (kind 'ivfpq'), plus the narrow per-vector cell/code assignment, with a",
    "  _meta row pinning the trained epoch (source, nvec, dim, every parameter). Training is",
    "  deterministic (exact medians), so queries serving from the persisted index are bit-identical",
    "  to training in-query — while paying a tiny broadcast instead of Lloyd iterations per job (the",
    "  precompute-once-read-many pattern of the reference's split planning,",
    "  GenerateSSTableDataSplits)",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param source_dir string default=<required>",
    "  comment: corpus directory holding embeddings.parquet",
    "param kind string default='ivfpq'",
    "  comment: 'ivf' (coarse only), 'pq' (codebooks only), 'ivfpq'",
    "param k int default=8",
    "  comment: coarse cells",
    "param iters int default=5",
    "  comment: coarse Lloyd iterations",
    "param m int default=4",
    "  comment: PQ subspaces",
    "param pq_k int default=8",
    "  comment: codes per subspace",
    "param pq_iters int default=2",
    "  comment: codebook Lloyd iterations",
    "param where string default='true'",
    "  comment: SQL predicate selecting the training slice — the real pattern at scale: train",
    "  quantizers on a sample, then CALL update_ann_index to encode the rest against them",
    "param store_vectors boolean default=false",
    "  comment: covering-index mode: persist each raw vector in its v: row so exact-rerank serving",
    "  can point-read a PQ shortlist's true vectors (the FAISS-IVFPQR/DiskANN reorder step) instead",
    "  of scanning the embedding table; update_ann_index and streaming ingest follow the pinned flag",
    "  automatically",
    "param drift_warn bigint default=0",
    "  comment: drift-warning threshold in e4 units (e.g. 15000 = ratio 1.5): a covering index's",
    "  maintainers append a _health drift sample at every ingest epoch; above this threshold the",
    "  ingest receipt carries a LOUD warning. 0 (default) = samples only, no warning",
    "receipt struct<kind:string,centroids:bigint,codebookEntries:bigint,vectors:bigint,dim:int>"),
  "compact" -> Seq(
    "description: size-tiered (STCS) compaction: fold every planned bucket in place; returns the",
    "  number of buckets folded",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param min_threshold int default=4",
    "param max_threshold int default=32",
    "param min_size bigint default=52428800",
    "receipt struct<folds:int>"),
  "compact_bucketed" -> Seq(
    "description: layout-preserving compaction for bucketed (writeBucketed) directories: fold each",
    "  hash bucket's generation chain into one generation under the same bucket-NNNNN stem (tombstone",
    "  GC is structural within a bucket); returns the number of buckets folded",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param min_threshold int default=2",
    "param parallelism int default=0",
    "receipt struct<folds:int>"),
  "compact_leveled" -> Seq(
    "description: leveled (LCS) compaction: fold adjacent sorted runs until at most max_runs remain;",
    "  returns the number of folds performed",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param max_runs int default=4",
    "param max_threshold int default=32",
    "receipt struct<folds:int>"),
  "compact_tombstones" -> Seq(
    "description: single-generation tombstone compaction: fold isolated generations whose sidecar",
    "  tombstone ratio reaches the threshold (drops the delete-shadow debt); returns the number of",
    "  generations folded",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param ratio_threshold double default=0.2",
    "receipt struct<folds:int>"),
  "consolidate_doc_freqs" -> Seq(
    "description: epoch-range consolidation of a df store: rewrite each t:/_n row's accumulated",
    "  per-epoch partial cells into ONE fold cell (their exact sum, tagged with the newest covered",
    "  epoch) plus DELETED markers for the constituents — without it every update appends one df:/cf:",
    "  cell per touched term forever, and serving reads explode-and-sum an O(#epochs)-wide row. The",
    "  fold generation is a PURE APPEND: every reader applies the fold rule (newest fold + only the",
    "  epoch cells after it), so raw and catalog reads alike stay exact at every instant; the markers",
    "  let the next ordinary compaction reclaim the constituents physically. Runs under the",
    "  directory's maintenance lease; d: markers and _meta are never touched; the additivity sentinel",
    "  is re-checked before returning. Idempotent: a re-run with no new epochs folds nothing",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "receipt struct<rowsFolded:bigint,partialsFolded:bigint,coveredEpochTag:string,generations:int>"),
  "cover_ann_index" -> Seq(
    "description: upgrade an EXISTING non-covering ANN index to covering: backfill raw-vector (vec)",
    "  cells for every live v: row from the pinned corpus in ONE pass — no retraining (centroids and",
    "  codebooks are untouched) — and flip store_vectors in _meta on the same atomic commit, so exact",
    "  rerank (AnnIndex.loadVectorsFor / q_ann_rerank's pipeline) serves from it identically to an",
    "  index built covering. Drift refusal: the corpus rows must re-encode to EXACTLY the stored",
    "  cell/code assignments under the persisted quantizers (the index's own content check — it",
    "  stores no raw bits to hash); ids missing from the corpus refuse (retract them first, or",
    "  rebuild). Idempotent: an already-covering index no-ops. Runs under the maintenance lease",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param source_dir string default=<required>",
    "  comment: the SAME corpus directory the index was built over",
    "receipt struct<covered:bigint,alreadyCovering:boolean>"),
  "derived_stores" -> Seq(
    "description: audit the warehouse's derived-store registry (round 18): every (kind, table, dir,",
    "  corpus, mode) the maintainer CALLs self-registered — the set a list-free CALL takedown /",
    "  takedown_status spans. 'corpus' is the source directory the store currently derives from ('*'",
    "  = a stream-maintained store, which matches every corpus); a store REBUILT over a different",
    "  corpus re-registers (LWW). Read-only; an absent registry returns no rows",
    "param corpus string default=NULL",
    "  comment: restrict to stores derived from this corpus directory (stream stores always match);",
    "  absent = all",
    "receipt struct<kind:string,table:string,dir:string,corpus:string,mode:string>"),
  "drop_snapshot" -> Seq(
    "description: drop a snapshot pin (bytes survive under live names / younger pins)",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param tag string default=<required>",
    "receipt struct<dropped:boolean>"),
  "expire_history" -> Seq(
    "description: retention for the _history operation log: remove events older than the horizon",
    "  (name-parse only, no file reads); the log is an audit trail, so expiry changes nothing about",
    "  the data. Pass 'namespace' instead of 'table' to expire a NAMESPACE's log (where",
    "  create/drop/undrop_namespace events land; '' = the warehouse root)",
    "param table string default=NULL",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param older_than_ms bigint default=7776000000",
    "param namespace string default=NULL",
    "  comment: namespace whose log to expire instead; '' = root",
    "receipt struct<removed:int,kept:int>"),
  "expire_snapshots" -> Seq(
    "description: retention for snapshot pins: drop every pin older than the horizon (pin mtime =",
    "  capture time); one row per pin with its outcome. tag_prefix scopes it (e.g. 'auto-' retires",
    "  only autosnapshot's wipe-undo pins, never user pins)",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param older_than_ms bigint default=604800000",
    "param tag_prefix string default=''",
    "receipt struct<tag:string,status:string>"),
  "health" -> Seq(
    "description: the SPANNING operational-health surface (round 18): one row per (registered store,",
    "  check), spanning the same registry a list-free takedown does — generations vs the autocompact",
    "  contract (bound 2x the pinned threshold), unfolded epoch partials vs autoconsolidate (df), the",
    "  NEWEST _health drift sample vs the pinned drift_warn (ANN), and lease holder/staleness (a live",
    "  holder is green, a STALE one names the dead maintainer). bound=0 rows are informational (no",
    "  pinned threshold and no override) and always ok; a dropped registered store reports one not-ok",
    "  'present' row. All checks are driver-side point reads (zero Spark jobs) — poll it from the",
    "  fleet dashboard. Read-only",
    "param max_generations int default=0",
    "  comment: operator-policy override for the generations bound (0 = use 2x each store's pinned",
    "  autocompact)",
    "param max_unfolded int default=0",
    "  comment: override for the df unfolded-partials bound (0 = use 2x each store's pinned",
    "  autoconsolidate)",
    "receipt struct<kind:string,table:string,check:string,value:bigint,bound:bigint,ok:boolean,detail:string>"),
  "list_trash" -> Seq(
    "description: what undrop can restore: the namespace's _dropped- trash entries (recoverable DROPs",
    "  awaiting the sweep horizon), one row each with the original name, its kind (table/namespace)",
    "  and how long ago it was dropped. Empty namespace = the warehouse root",
    "param namespace string default=''",
    "  comment: catalog-relative namespace to inspect; '' = root",
    "receipt struct<name:string,kind:string,droppedAgoMs:bigint,sweepableInMs:bigint,trashEntry:string,complete:boolean>"),
  "lookup" -> Seq(
    "description: point reads in pure SQL: probe each key via bloom filter -> Summary search -> one",
    "  bounded Index.db window -> one Data.db seek per candidate generation (IO proportional to keys",
    "  x generations, never table size) and return the reconciled (LWW-merged) row per key that",
    "  exists — the SQL route to the engine's index-nested-loop access path (Scala:",
    "  SSTableOps.lookupJoin). Keys are the table's binary keys: CAST string keys AS BINARY at the",
    "  call site. With gc_tombstones (default) wholesale-deleted keys return nothing (the live view);",
    "  without it the merged tombstone state is visible. Duplicate keys yield duplicate rows; NULLs",
    "  match nothing. The probe set is CALL-literal-sized, so probes run on the driver against the",
    "  (cached) 4-file metadata — no scan, no job",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param keys array<binary?> default=<required>",
    "  comment: probe keys, e.g. array(CAST('k1' AS BINARY), ...)",
    "param gc_tombstones boolean default=true",
    "receipt struct<key:binary,columns:array<struct<name:binary,state:string,value:binary?,timestamp:bigint,ttlSecs:bigint,expiresMillis:bigint>>,rowTombstone:struct<localDeletionTime:int,markedForDeleteAt:bigint>?>"),
  "maintenance_status" -> Seq(
    "description: who holds the table's maintenance lease right now, if anyone: one row (holder, age,",
    "  fresh) when a lease file exists, none when the table is unheld. 'fresh' applies horizon_ms",
    "  (default: the default steal horizon - pass the horizon your maintainers actually run with if",
    "  it differs) - a stale row means the holder is presumed dead and the next maintainer will",
    "  steal. Read-only: never acquires, never renews, never touches the file",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param horizon_ms bigint default=900000",
    "  comment: steal horizon 'fresh' is judged against",
    "receipt struct<holder:string,ageMs:bigint,fresh:boolean>"),
  "readmit" -> Seq(
    "description: the explicit takedown override (round 17): row-tombstone the takedown-ledger",
    "  entries matching the id predicate, re-opening those ids to the ingest maintainers",
    "  (update_doc_freqs / update_signatures / build_ann_index / update_ann_index refuse slices",
    "  containing ledgered ids). Epoch-ordered: a LATER takedown of the same ids rises above this",
    "  readmission. Idempotent — already-readmitted ids match nothing. This clears only the LEDGER",
    "  (the refusal); it does not re-ingest anything — run the maintainers to actually re-admit",
    "param where string default=<required>",
    "  comment: SQL predicate over doc_id selecting ledger entries to clear, e.g. 'doc_id % 5 = 2'",
    "param source_dir string default=NULL",
    "  comment: SCOPE the readmission to one corpus's entries (round 18): only entries recorded under",
    "  this corpus are cleared — another corpus's record of the same ids, and global entries, stay",
    "  live. Absent = the global mode: clear every scope's matching entries",
    "receipt struct<readmitted:bigint,epoch:int>"),
  "rebucket" -> Seq(
    "description: atomically re-layout a table to a new bucket count (new_buckets => 0 drops the",
    "  bucketed layout) via the self-referential CREATE OR REPLACE ... AS SELECT escape hatch — the",
    "  stage materializes against the OLD table, the commit is one swap. Refuses while snapshots pin",
    "  the current layout (a time-traveled read would mis-group keys under the new count); the read",
    "  is delete-aware, so the rewrite also folds pending deletes. Quiesce writers first: a write",
    "  racing the swap lands in the replaced directory and is dropped with it",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param new_buckets int default=<required>",
    "  comment: target bucket count; 0 = plain (un-bucketed) layout",
    "receipt struct<previousBuckets:int?,buckets:int?,rows:bigint>"),
  "release_serving_caches" -> Seq(
    "description: drop THIS session's serving-cache entries across the whole query library and free",
    "  the storage they pinned: persisted serving intermediates (the TF-IDF probe batch, the ANN",
    "  rerank shortlist) leave the CacheManager, trained quantizers' and clusterings' localCheckpoint",
    "  blocks are dropped from the block manager, and fixture memos are forgotten (their directories",
    "  stay on disk; builders recreate-over on next use). For long-lived sessions cycling corpora —",
    "  serving calls AFTER the release simply rebuild (correctness never depends on a cache hit), at",
    "  the price of the rebuild. Caveat: result frames returned BEFORE the release may still",
    "  reference the disposed localCheckpoint blocks (unrecoverable once dropped) and can fail on",
    "  recompute — release when the outstanding results are done with. Pass corpus_dir to release ONE",
    "  corpus's entries and leave every other corpus's caches live",
    "param corpus_dir string default=NULL",
    "  comment: scope the release to this corpus directory's entries; absent = the whole session's",
    "receipt struct<entriesReleased:bigint>"),
  "retract_ann_vectors" -> Seq(
    "description: remove vectors from a persisted ANN index without retraining: one epoch appends a",
    "  row-tombstone generation marking the chosen v: rows deleted (the catalog's merge-on-read",
    "  DELETE shape), so the vectors stop being served as neighbors by every loader, the snapshot,",
    "  and the rerank point reads identically; a 'retracted' _meta flag (written first,",
    "  crash-conservative) switches the novelty probe to its delete-aware form, so a later",
    "  update_ann_index or streaming ingest RE-ADDS the ids with cells above the mark — membership",
    "  can flip indefinitely in registered-epoch order. `where` selects over the INDEX's own ids",
    "  (column vec_id) — no embedding read, so a vector with no surviving copy anywhere (the takedown",
    "  case) retracts fine. Centroids and codebooks are untouched (quantizers are trained artifacts,",
    "  not member data; rebuild to retrain). Idempotent re-runs match nothing. Runs under the",
    "  maintenance lease; epoch 0 in the receipt means nothing matched (no write)",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param where string default='true'",
    "  comment: SQL predicate over vec_id selecting the vectors to remove, e.g. 'vec_id % 5 = 2'",
    "receipt struct<retracted:bigint,epoch:int,generations:int>"),
  "retract_doc_freqs" -> Seq(
    "description: retract documents from a df store WITHOUT rescanning the corpus — the",
    "  takedown/GDPR/contamination-removal operation, priced by the retraction slice: one epoch",
    "  atomically appends NEGATIVE df:/cf: partials for the docs' units (additivity runs both ways,",
    "  through folds and compaction alike), DELETED cells shadowing their d: markers (membership",
    "  probes then see the doc as novel again, so a later ingest RE-ADMITS it), a negative _n",
    "  partial, and a 'retracted' flag on _meta that switches the membership probe and the additivity",
    "  sentinel to their delete-aware forms. source_dir is wherever the removed docs' (doc_id, text)",
    "  rows can be read NOW — the pinned corpus or, for docs already deleted from it (the usual",
    "  takedown), any directory holding them (e.g. the takedown payload): the per-doc content-hash",
    "  check is strictly stronger than a source pin. Guards, all delta-sized and all refusing BEFORE",
    "  anything lands: the store must pin this unit; a stream-maintained store refuses (its epoch",
    "  tags would order a batch retraction epoch out of consolidated reads); each doc's content hash",
    "  (written at ingest) must match the provided text — drift would subtract the wrong counts",
    "  silently; and the store's totals for exactly the touched terms (point reads) must cover the",
    "  subtraction. Docs never counted (or already retracted) report as notStored — a re-run is a",
    "  receipt-visible no-op. Runs under the maintenance lease; epoch 0 in the receipt means nothing",
    "  matched (no write)",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param source_dir string default=<required>",
    "  comment: corpus directory holding documents.parquet",
    "param where string default='true'",
    "  comment: SQL predicate selecting the docs to retract, e.g. 'doc_id % 5 = 2'",
    "param unit string default='term'",
    "  comment: must match the store's pinned unit",
    "receipt struct<docsInSlice:bigint,retracted:bigint,notStored:bigint,epoch:int,terms:bigint,generations:int>"),
  "retract_doc_freqs_stream" -> Seq(
    "description: retract documents from a STREAM-maintained df store (the directory a",
    "  StreamingDfUpdate maintainer writes — stream stores are path-addressed, not catalog tables,",
    "  hence store_dir): the retraction epoch is allocated IN THE STREAM'S OWN TAG DOMAIN",
    "  (s<base>r<seq> sorts after the newest stream epoch and before the next one), so the stream's",
    "  own consolidation folds the negative partials correctly and the next micro-batch's",
    "  re-admission rises above the deletion marks. Same guards as retract_doc_freqs (unit pin,",
    "  duplicate slice, content-hash drift, sufficiency) plus a batch-maintained-store refusal. Runs",
    "  under the maintenance lease — a live micro-batch serializes with it; retract only from a",
    "  quiesced stream whose last epoch committed (a retraction over an uncommitted attempt makes",
    "  that epoch's replay refuse). Empty tag in the receipt means nothing matched (no write)",
    "param store_dir string default=<required>",
    "  comment: the stream-maintained df store's directory",
    "param source_dir string default=<required>",
    "  comment: directory holding the removed docs' (doc_id, text) rows — corpus or takedown payload",
    "param where string default='true'",
    "  comment: SQL predicate selecting the docs to retract",
    "param unit string default='term'",
    "  comment: must match the store's pinned unit",
    "receipt struct<docsInSlice:bigint,retracted:bigint,notStored:bigint,retractionTag:string,terms:bigint,generations:int>"),
  "retract_signatures" -> Seq(
    "description: forget documents' fingerprints in two appends: first the retraction's _meta epoch",
    "  registration with a 'retracted' flag, which switches the membership probe to its delete-aware",
    "  form, then a pure row-tombstone generation marking each chosen doc deleted at that epoch (so",
    "  it shadows every earlier write and a later re-ingest shadows IT — membership can flip",
    "  indefinitely in write order). The docs read as NOVEL again and the next update_signatures",
    "  re-signs them. `where` selects over the STORE's own ids (column doc_id) — no corpus read, so a",
    "  doc with no surviving copy anywhere (the takedown case) retracts fine. A re-run matches",
    "  nothing (idempotent by construction). Runs under the maintenance lease; epoch 0 in the receipt",
    "  means nothing matched (no write)",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param where string default='true'",
    "  comment: SQL predicate over doc_id selecting the docs to forget, e.g. 'doc_id % 5 = 2'",
    "receipt struct<retracted:bigint,epoch:int,generations:int>"),
  "rollback" -> Seq(
    "description: restore the table's live state to a snapshot pin (the write-side dual of VERSION AS",
    "  OF): pin filesets relink, post-pin filesets unpublish; idempotent, quiesce writers first",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param tag string default=<required>",
    "receipt struct<restored:int,removed:int>"),
  "scrub" -> Seq(
    "description: validate every generation by full decode (row order, sidecar agreement); repair =>",
    "  true re-writes salvageable rows and quarantines the corrupt originals; one row per generation",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param repair boolean default=false",
    "receipt struct<file:string,rows:bigint,sorted:boolean,statsMatch:boolean?,error:string?,repairedTo:string?,repairError:string?>"),
  "snapshot" -> Seq(
    "description: pin the table's current published state as a named snapshot (hardlinks; readable",
    "  via VERSION AS OF / option(snapshot, tag))",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param tag string default=<required>",
    "receipt struct<path:string>"),
  "takedown" -> Seq(
    "description: cross-store takedown orchestration: record the removal in the persistent takedown",
    "  ledger, then drive retract_doc_freqs + retract_signatures + retract_ann_vectors for one id",
    "  predicate in one CALL, returning ONE receipt (a row per (store, table)). The predicate is",
    "  written over doc_id; the ANN legs see the same ids under the doc_id alias of their vec_id",
    "  relation. Each leg runs under its own store's maintenance lease and is IDEMPOTENT, so crash",
    "  recovery is re-issuing the same CALL: completed legs no-op (matched=0), unfinished legs run —",
    "  the orchestration converges without tracking which leg died; CALL takedown_status names any",
    "  lagging table in between. A corpus usually backs SEVERAL stores per kind: the plural args",
    "  (df_tables/sig_tables/ann_tables) add more legs of the same kind, merged with the scalar form.",
    "  LIST-FREE MODE (round 18): with NO store args at all, the takedown spans EVERY store the",
    "  maintainer CALLs self-registered for this corpus in the warehouse's derived-store registry",
    "  (CALL derived_stores lists it) — the omission-proof form: no table list to forget, a dropped",
    "  store surfaces as a 'missing' receipt row. source_dir is wherever the removed docs' (doc_id,",
    "  text) rows can be read NOW — the pinned corpus, or the takedown request's own payload for docs",
    "  already deleted from the corpus (the df legs' content-hash guard verifies either). The corpus",
    "  table is an OPT-IN final leg (corpus_table): its matching rows are DELETEd LAST, after the df",
    "  legs have read their text. Without it, delete corpus rows by their own mechanics before or",
    "  after — every leg tolerates the doc being already gone. DURABILITY: the ledger makes the",
    "  removal survive rebuilds — update_doc_freqs/update_signatures/build_ann_index/update_ann_index",
    "  refuse an ingest slice still containing ledgered ids; CALL readmit is the explicit override",
    "param source_dir string default=<required>",
    "  comment: directory holding the removed docs' (doc_id, text) rows — corpus or takedown payload",
    "param where string default=<required>",
    "  comment: SQL predicate over doc_id selecting the docs to remove, e.g. 'doc_id % 5 = 2'",
    "param sig_table string default=NULL",
    "  comment: catalog-relative signature store name; at least one of sig_table / sig_tables is",
    "  required — unless NO store args are passed at all (the list-free registry-spanning mode)",
    "param ann_table string default=NULL",
    "  comment: catalog-relative ANN index name; at least one of ann_table / ann_tables is required —",
    "  unless list-free",
    "param df_table string default=NULL",
    "  comment: catalog-relative df store name, e.g. 'ns.df' — at most one of df_table /",
    "  df_stream_dir; at least one df leg overall (df_tables adds more batch stores and composes with",
    "  either)",
    "param df_stream_dir string default=NULL",
    "  comment: a STREAM-maintained df store's directory — the df leg then retracts in the stream's",
    "  own epoch-tag domain (retract_doc_freqs_stream), so one takedown spans live-stream pipelines",
    "  too",
    "param unit string default='term'",
    "  comment: must match the df stores' pinned unit",
    "param corpus_table string default=NULL",
    "  comment: OPTIONAL final leg: a catalog-relative corpus table whose matching rows are DELETEd —",
    "  run LAST (the df legs read the removed docs' text from source_dir, often the corpus itself).",
    "  Absent = corpora are deleted by their own owners' mechanics",
    "param corpus_where string default=NULL",
    "  comment: DELETE predicate in the corpus table's own column terms; defaults to `where` (works",
    "  when the table exposes doc_id)",
    "param df_tables array<string?> default=NULL",
    "  comment: MORE batch df stores, e.g. array('ns.df2', 'ns.df3') — one leg and one receipt row",
    "  each",
    "param sig_tables array<string?> default=NULL",
    "  comment: more signature stores",
    "param ann_tables array<string?> default=NULL",
    "  comment: more ANN indexes (per modality / embedding version)",
    "param corpus string default=NULL",
    "  comment: SCOPE the ledger entries to one corpus's id domain (round 18, for multi-corpus",
    "  warehouses): maintainers consult with their own ingest corpus, so an UNRELATED corpus sharing",
    "  id values is not refused, and readmit scoped to it cannot clear this record. Absent (or '*') =",
    "  warehouse-global entries that refuse the ids under every corpus — the single-corpus default;",
    "  deliberately NOT inferred from source_dir (the payload is often detached from the corpus)",
    "receipt struct<store:string,matched:bigint,epoch:string,status:string,table:string>"),
  "takedown_ledger" -> Seq(
    "description: audit the persistent takedown ledger: the live (not-readmitted) taken-down ids with",
    "  the predicate, epoch, and corpus scope each was recorded under ('*' = a global entry).",
    "  Read-only; an absent ledger returns no rows. The result is collected to the driver (bounded by",
    "  O(taken-down ids) by design) — max_rows caps it for audits of very large ledgers",
    "param where string default='true'",
    "  comment: SQL predicate over doc_id filtering the entries",
    "param max_rows int default=0",
    "  comment: cap the returned (id-ordered) rows; 0 = all",
    "receipt struct<doc_id:bigint,predicate:string,epoch:int,src:string>"),
  "takedown_status" -> Seq(
    "description: the spanning membership audit for a takedown: for one id predicate, report how many",
    "  LIVE members each audited store (df, signatures, ANN, and optionally the corpus table) still",
    "  has (with a bounded id sample) — after a completed takedown every count is 0; after a crash",
    "  between legs the lagging store names itself with a non-zero count instead of the stores",
    "  silently disagreeing. LIST-FREE MODE (round 18): with NO store args, audits EVERY store in the",
    "  warehouse's derived-store registry — no list to forget; a dropped store reports",
    "  sample='missing'. Read-only",
    "param where string default=<required>",
    "  comment: the takedown's id predicate, over doc_id",
    "param sig_table string default=NULL",
    "  comment: at least one of sig_table / sig_tables is required",
    "param ann_table string default=NULL",
    "  comment: at least one of ann_table / ann_tables is required",
    "param df_table string default=NULL",
    "  comment: catalog-relative df store — at most one of df_table / df_stream_dir; at least one df",
    "  leg overall (df_tables adds more)",
    "param df_stream_dir string default=NULL",
    "  comment: a STREAM-maintained df store's directory (membership reads are dir-based and",
    "  identical)",
    "param corpus_table string default=NULL",
    "  comment: OPTIONAL extra row: a catalog-relative corpus table audited with corpus_where —",
    "  mirrors takedown's opt-in corpus leg",
    "param corpus_where string default=NULL",
    "  comment: audit predicate in the corpus table's own column terms; defaults to `where`",
    "param df_tables array<string?> default=NULL",
    "  comment: more batch df stores — one audit row each",
    "param sig_tables array<string?> default=NULL",
    "  comment: more signature stores",
    "param ann_tables array<string?> default=NULL",
    "  comment: more ANN indexes",
    "receipt struct<store:string,members:bigint,sample:string,table:string>"),
  "undrop_namespace" -> Seq(
    "description: restore the most recently dropped NAMESPACE of this name from its parent's",
    "  _dropped- trash (DROP NAMESPACE tombstones each table pointer-committed, then renames the",
    "  shell - CASCADE included): the shell comes back as one rename, then every table the drop",
    "  tombstoned is restored pointer-committed (each appears whole or not at all). Refuses when the",
    "  live name exists - unless it holds unfinished restore work from a crashed undrop_namespace,",
    "  which is resumed",
    "param namespace string default=<required>",
    "  comment: catalog-relative namespace, e.g. 'ns' or 'a.b'",
    "receipt struct<restoredFrom:string,droppedAgoMs:bigint,tablesRestored:int>"),
  "undrop_table" -> Seq(
    "description: restore the most recently dropped table of this name from the namespace's _dropped-",
    "  trash (DROP TABLE renames, never deletes; the trash survives until the staged-DDL sweep",
    "  horizon, ~24h); refuses when the live name exists",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "receipt struct<restoredFrom:string,droppedAgoMs:bigint>"),
  "update_ann_index" -> Seq(
    "description: incrementally ingest NEW corpus vectors into a persisted ANN index: probe the",
    "  index's v: keys (key-only Index.db scan) for vec_ids already encoded, assign ONLY the absent",
    "  vectors under the PERSISTED quantizers (one broadcast pass — bit-identical to what training's",
    "  final assignment rule gives; centroids and codebooks are never retrained here) and append them",
    "  as one generation. The lifecycle twin of update_signatures: a corpus that grows by INSERT pays",
    "  one encoding pass for the delta, never Lloyd training again. Refuses an index built over a",
    "  different corpus or with missing _meta. Same single-maintainer contract as every maintenance",
    "  CALL (probe-then-append)",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param source_dir string default=<required>",
    "  comment: the SAME corpus directory the index was built over",
    "receipt struct<docsSeen:bigint,encoded:bigint,alreadyIndexed:bigint,health:string>"),
  "update_doc_freqs" -> Seq(
    "description: incrementally maintain a document-frequency (IDF) store over a growing corpus:",
    "  probe THIS table's d: marker keys (key-only Index.db scan) for doc_ids already counted,",
    "  compute per-term df AND cf (total occurrences) over ONLY the absent documents, and append the",
    "  partials as one epoch — each epoch's counts live in df:/cf:<epoch> cells, so compaction's",
    "  column-union merge folds generations without losing a partial, and disjoint epochs SUM to the",
    "  exact corpus df. Serving (DfStore.docFreqs / nDocs) reads total df and n_docs from this",
    "  vocabulary-sized table instead of re-aggregating the corpus — how a pipeline TF-IDF-scores new",
    "  documents against corpus statistics without rescanning the corpus. Creates the store on first",
    "  call with a _meta row pinning the source; a retargeted store refuses loudly. Same",
    "  single-maintainer, append-only contract as update_signatures",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param source_dir string default=<required>",
    "  comment: corpus directory holding documents.parquet",
    "param where string default='true'",
    "  comment: SQL predicate selecting the ingest slice",
    "param autocompact int default=8",
    "  comment: write-triggered fold threshold for a NEW store",
    "param unit string default='term'",
    "  comment: counted unit: 'term' (alpha tokens — the TF-IDF/IDF statistic) or 'para' (paragraph",
    "  digests — the boilerplate-removal statistic); pinned in _meta",
    "param autoconsolidate int default=64",
    "  comment: write-triggered consolidation bound for a NEW store (table property): when more than",
    "  this many epoch partials have accumulated since the last fold, the committing CALL",
    "  consolidates on the store's behalf — row width stays bounded without CALL",
    "  consolidate_doc_freqs; 0 disables",
    "receipt struct<docsSeen:bigint,novel:bigint,alreadyStored:bigint,epoch:int,terms:bigint,generations:int>"),
  "update_signatures" -> Seq(
    "description: incrementally maintain a MinHash signature store over a growing corpus (the batch",
    "  twin of the streaming incremental dedup): probe THIS catalog table's keys (a key-only Index.db",
    "  scan) for doc_ids already signed, compute signatures ONLY for the absent documents (narrow",
    "  anti-join on ids; text is read once for the delta and never shuffled), and append them as one",
    "  generation — the store self-maintains via its write-triggered autocompact. Creates the store",
    "  on first call with a _meta row pinning the MinHash parameters; a store built under different",
    "  parameters refuses loudly. A corpus that grows by INSERT pays signature computation for the",
    "  delta, never for the whole corpus again. Contract: the maintenance CALLs are the store's only",
    "  writers, ONE AT A TIME (the probe-then-append is check-then-act: two concurrent calls over the",
    "  same delta would both sign it — the single-maintainer contract every maintenance CALL shares;",
    "  enforced by the lease). The index-only probe skips delete-awareness until the first",
    "  retract_signatures epoch flips the store to the delete-aware probe; ad-hoc DELETE FROM remains",
    "  unsupported",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param source_dir string default=<required>",
    "  comment: corpus directory holding documents.parquet",
    "param where string default='true'",
    "  comment: SQL predicate selecting the ingest slice, e.g. 'doc_id % 3 < 2'",
    "param autocompact int default=8",
    "  comment: write-triggered fold threshold for a NEW store",
    "receipt struct<docsSeen:bigint,novel:bigint,alreadyStored:bigint,generations:int>"),
  "vacuum" -> Seq(
    "description: remove stale staging directories abandoned by dead writers (mtime older than the",
    "  horizon); one row per staging dir",
    "param table string default=<required>",
    "  comment: catalog-relative table name, e.g. 'ns.t'",
    "param older_than_ms bigint default=86400000",
    "receipt struct<path:string,status:string>"),
  "vacuum_trash" -> Seq(
    "description: reclaim the namespace's _dropped- trash older than the horizon (default: the same",
    "  24h window staged DDL sweeps on) - the explicit route for namespaces that never run another",
    "  CTAS / REPLACE / DROP. Crashed staging litter (_stage-/_wstage-) goes too, but ONLY past the",
    "  fixed 24h liveness floor - a short horizon can never catch a live job's staging between",
    "  heartbeats. Also clears crashed-swap residue at plain table names (DROP tombstones;",
    "  undrop/publish pointers whose restorer is dead past the 24h liveness floor). One row per",
    "  removed entry; sweeping an entry forfeits its undrop",
    "param namespace string default=''",
    "  comment: catalog-relative namespace to sweep; '' = root",
    "param older_than_ms bigint default=86400000",
    "receipt struct<removed:string>"))
}
