package graft.cli

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine._
import graft.errors.Errors
import graft.model._
import graft.util.{Durations, MiniYaml}

/** Command-line surface mirroring the reference CLI
  * (`/root/reference/src/timefence/cli.py`): build, audit, explain,
  * diff, inspect, catalog, doctor, init. Feature definitions come from
  * a `graft.yaml` config (the Scala analog of the reference's
  * importable-Python feature files — SURVEY §2.11 notes this
  * deliberate departure).
  */
object Main {

  /** Spark log level set by the global `-v`/`--debug` flags — the
    * reference's verbosity group options (cli.py:189-208: -v => INFO,
    * --debug => DEBUG), mapped onto log4j via setLogLevel. */
  private var logLevel: String = "WARN"

  def main(args: Array[String]): Unit = sys.exit(run(args))

  /** main minus the sys.exit — the testable dispatch seam. */
  private[graft] def run(args: Array[String]): Int = {
    // global verbosity flags are position-independent (the reference
    // accepts them before the command; we take them anywhere)
    val (verbosity, realArgs) = args.partition(a =>
      a == "-v" || a == "--verbose" || a == "--debug")
    logLevel =
      if (verbosity.contains("--debug")) "DEBUG"
      else if (verbosity.nonEmpty) "INFO"
      else "WARN"
    if (realArgs.isEmpty) { println(usage); return 2 }
    val cmd = realArgs.head
    val rest = realArgs.tail
    val code =
      try {
        cmd match {
          case "build"   => cmdBuild(rest)
          case "audit"   => cmdAudit(rest)
          case "explain" => cmdExplain(rest)
          case "diff"    => cmdDiff(rest)
          case "inspect" => cmdInspect(rest)
          case "catalog" => cmdCatalog(rest)
          case "doctor"  => cmdDoctor(rest)
          case "init"    => cmdInit(rest)
          case "quickstart" => cmdQuickstart(rest)
          case "curate"  => cmdCurate(rest)
          case "pack"    => cmdPack(rest)
          case "dsir"    => cmdDsir(rest)
          case "classify" => cmdClassify(rest)
          case "profile" => cmdProfile(rest)
          case "shuffle" => cmdShuffle(rest)
          case "export"  => cmdExport(rest)
          case "tokenizer" => cmdTokenizer(rest)
          case "index"   => cmdIndex(rest)
          case "stream"  => cmdStream(rest)
          case "help" | "-h" | "--help" => println(usage); 0
          case other => System.err.println(s"Unknown command '$other'\n$usage"); 2
        }
      } catch {
        case e: graft.errors.GraftException =>
          System.err.println(s"error: ${e.getMessage}"); 1
      }
    code
  }

  private[graft] def currentLogLevel: String = logLevel

  private def usage: String =
    """graft — point-in-time training sets on Spark
      |
      |Global flags: -v/--verbose (INFO logs), --debug (DEBUG logs)
      |
      |Commands:
      |  build   --config graft.yaml [--output PATH] [--dry-run] [--split n:s:e]
      |          [--flatten] [--max-lookback D] [--max-staleness D] [--on-missing null|skip]
      |  audit   --data PATH --label-time COL --feature-time-cols f=col[,g=col]
      |          [--strict] [--json PATH] [--html PATH]
      |  explain --config graft.yaml
      |  diff    --old PATH --new PATH --keys a[,b] --label-time COL
      |  inspect PATH [--approx]   (--approx: HLL sketches for cluster-scale datasets)
      |  catalog [--store DIR]
      |  doctor  --config graft.yaml [--json]
      |  init    [DIR]
      |  quickstart [DIR]   generate demo data, build, audit
      |  curate  --input PATH --output PATH [--id-col doc_id] [--text-col text]
      |          [--min-quality 0.3] [--languages en,de|none] [--c4] [--gopher]
      |          [--repetition] [--line-dedup] [--fix-mojibake [PASSES]]
      |          [--blocklist w1,w2] [--url-col COL]
      |          [--boilerplate-max-doc-freq N] [--span-dedup [N]] [--exact-substr [K]]
      |          [--image-hash-col COL | --image-col BIN | --audio-col BIN | --video-col BIN]
      |          [--image-max-hamming 2] [--image-bands 4]
      |          [--soft-quality-pivot P [--soft-quality-sharpness S]]
      |          [--unigram-buckets N [--unigram-keep K]]
      |          [--bigram-buckets N [--bigram-keep K] [--bigram-model DIR]]
      |          [--decontaminate EVAL_PARQUET [--decontaminate-ngram 8] [--decontaminate-bloom]]
      |          [--semdedup-col COL [--semdedup-threshold 0.95] [--semdedup-nlist 16]]
      |          [--classifier-positives PARQUET | --classifier-model DIR]
      |          [--classifier-min-prob 0.5] [--classifier-negative-rate 0.01]
      |          [--max-per-domain N [--domain-col source] [--domain-order-col COL]]
      |          (cap each domain at its N best surviving docs — ranked
      |           by --domain-order-col desc; the default ranks by the
      |           RAW input text's length, i.e. before any --c4 cleaning)
      |          [--dsir-target PARQUET --dsir-k N [--dsir-buckets 65536] [--dsir-temperature 1.0]]
      |          [--near-dup minhash|ngram] [--near-dup-threshold 0.8]
      |          [--near-dup-keep-col COL|length]  (each duplicate cluster
      |           keeps its highest-COL member instead of the min id)
      |          [--json PATH]
      |          [--resume-dir DIR]  (stage-level checkpoints: a re-run
      |           against the same dir skips completed stages — restart
      |           a multi-hour curation after driver loss; refuse on
      |           config change)
      |  pack    --input PATH --output PATH [--id-col doc_id] [--text-col text]
      |          [--token-budget 2048] [--groups 1024] [--seed 42]
      |          [--token-count bpe|whitespace|COL | --tokenizer DIR]
      |          [--seq-len N [--drop-partial]] [--report]
      |          [--ids [--keep-partial] [--eos TOK] [--pad TOK]]
      |          (--seq-len chunks into fixed-length sequences with doc
      |           boundaries; without it packs are concatenated whole;
      |           --ids + --tokenizer exports fixed-length token-ID
      |           training sequences instead of text; --eos appends the
      |           named special token to every document's ids; --pad
      |           fills kept partial sequences to seq-len — n_tokens
      |           keeps the real length for the loss mask)
      |  dsir    --input RAW (--target TARGET | --target-dist DIST) --output PATH
      |          (--k N | --weights-only) [--buckets 65536] [--alpha 1.0]
      |          [--temperature 1.0] [--seed 42] [--id-col doc_id] [--text-col text]
      |          [--save-target-dist PATH]
      |          (DSIR importance resampling: select raw docs that look
      |           like the target corpus; --weights-only writes scores;
      |           --save-target-dist persists the target fit for reuse)
      |  classify --input RAW --output PATH
      |          (--positives REF [--negatives RAW_SAMPLE] [--save-model DIR] | --model DIR)
      |          [--min-prob 0.5] [--buckets 65536] [--score-only] [--text-col text]
      |          (fastText-style quality classifier: train positives-vs-
      |           negatives, keep docs with P(quality) >= min-prob;
      |           --score-only writes quality_prob instead of filtering)
      |  profile --input PATH [--group-col source] [--text-col text]
      |          [--tokenizer DIR] [--json PATH] [--approx [K]]
      |          [--diff-against OLD_PATH [--novelty [N]] [--token-drift [K]]]
      |          [--top-ngrams K [--ngram-n 3] [--id-col COL]] [--zipf [K]]
      |          (--tokenizer counts real BPE tokens instead of whitespace;
      |           --approx: distinct-text/novelty via KMV sketches — the
      |           100 TB path, values print with ~, error ~1/sqrt(K-2);
      |           --diff-against prints the snapshot drift report instead;
      |           --novelty adds set-level n-gram drift, --token-drift the
      |           distribution-level top-K token movers;
      |           --top-ngrams appends the frequent-phrase discovery table;
      |           --zipf appends the rank-frequency power-law fit line)
      |          (per-group corpus stats + total: docs, distinct texts,
      |           tokens, chars, doc-token min/max/mean — one agg pass)
      |  shuffle --input PATH --output PATH [--id-col doc_id] [--seed 42]
      |          [--index] [--shards N]
      |          (deterministic training-order shuffle: global sort by
      |           hash(seed, id); --index stamps a contiguous global_idx;
      |           --shards N writes N ordered parquet shards — shard FILE
      |           boundaries are sampled, so for byte-identical shard
      |           reproducibility across runs use `export`)
      |  export  --input PATH --output DIR [--shards 16] [--seed 42]
      |          [--key-cols c1,c2] [--output-format parquet|jsonl]
      |          (train-ready sharded export: deterministic shuffle +
      |           contiguous global_idx + shard=idx div ceil(total/N),
      |           written as shard=K partition dirs with a _manifest.json
      |           of per-shard row counts and index ranges — parquet
      |           keeps column types, jsonl writes ONE ordered text file
      |           per shard, byte-identical across re-runs; key defaults
      |           to doc_id, or pack_group,pack_id,seq_idx for pack --ids
      |           output)
      |  stream  --input DIR --output DIR --checkpoint DIR
      |          [--c4] [--gopher] [--repetition] [--min-quality Q]
      |          [--languages en,de|none] [--keep-verdicts] [--text-col text]
      |          [--fix-mojibake [PASSES]]  (repair CP1252 mis-decoding
      |           before the gate — stateless, both legs see repaired text)
      |          [--exact-dedup --event-time-col COL [--watermark '1 hour']]
      |          [--rejects DIR]  (dead-letter gate FAILURES with their
      |           hygiene_verdict codes — its own checkpointed leg)
      |          [--near-dup --near-dup-out DIR --event-time-col COL
      |           [--near-dup-threshold 0.5] [--minhash-k 16] [--bands 4]
      |           [--ngram-n 3] [--near-dup-retention 1h] [--max-bucket 1000]
      |           [--id-col doc_id]]  (MinHash/LSH ingest monitor: hits
      |           name the colliding PRIOR doc — bucket state lives in
      |           the checkpoint, so cross-drop duplication is flagged)
      |          [--state-store rocksdb|hdfs]  (rocksdb default: state
      |           scales past executor heap; use hdfs only to resume a
      |           checkpoint written under the old provider)
      |          (incremental ingest: drains the files present, exits;
      |           re-running with the same --checkpoint processes ONLY
      |           files that arrived since — gate verdicts bit-identical
      |           to curate's, output appended exactly-once)
      |  tokenizer --train --input PATH --model DIR [--vocab-size 8192]
      |            [--max-word-types 200000] [--specials TOK1,TOK2]
      |  tokenizer --input PATH --model DIR --output PATH [--count-only]
      |          (byte-level BPE: --train fits a vocab on the corpus and
      |           saves it; without --train, encodes the corpus with a
      |           saved vocab — token_ids + n_tokens, or n_tokens alone
      |           with --count-only)
      |
      |  index   --build --input PATH --output DIR [--nlist 64] [--refine-iters 0]
      |          [--pq M,K [--pq-refine-iters 0]] [--id-col vec_id] [--vec-col embedding]
      |          | --append --input BATCH --index DIR
      |          | --search --queries PATH --index DIR --output PATH
      |            [--k 10] [--nprobe 8] [--refine CANDIDATES --corpus PATH]
      |            [--recall-sample N]  (sample N queries, print mean/min
      |            recall@k vs the exact brute-force baseline — IVF-PQ
      |            needs --corpus for the true vectors)
      |            [--target-recall T [--recall-sample N]]  (autotune:
      |            double nprobe on the sample until mean recall@k >= T,
      |            run the full search at the chosen nprobe AND persist
      |            it to the index meta — later flagless --search runs
      |            inherit it; explicit --nprobe always wins)
      |          | --describe --index DIR   (layout, params, per-list
      |            row counts — list skew says when to rebuild)
      |          | --compact --index DIR    (rewrite appended lists to
      |            one file each; atomic dir swap, rows unchanged)
      |          | --rebuild --index DIR --output NEWDIR [--nlist N]
      |            [--refine-iters R] [--pq M,K] [--corpus PATH]
      |            (fresh centroids when --describe shows list skew;
      |            IVF rebuilds from its own lists, IVF-PQ re-encodes
      |            from --corpus; readers cut over to NEWDIR)
      |          (persisted ANN: IVF lists of vectors, or with --pq the
      |           IVF-PQ residual-code layout — probes read only nprobe
      |           list partitions; append assigns new batches to the
      |           saved centroids/codebooks without re-clustering;
      |           --refine exact-reranks an ADC shortlist)
      |
      |  Corpus commands (curate/pack/dsir/classify/profile/shuffle) read
      |  and write parquet or JSONL: .jsonl/.json paths auto-detect, or
      |  force with --input-format/--output-format parquet|jsonl
      |  (--input-format covers the primary --input; auxiliary corpora —
      |  eval sets, positives, DSIR targets — infer from their own paths,
      |  or force them all with --aux-format). Parquet
      |  is the scale path (JSONL schema inference re-reads the input).
      |""".stripMargin

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** A required flag, as a friendly config error instead of the raw
    * NoSuchElementException + stack trace a bare map lookup produces. */
  private def req(f: Map[String, String], name: String, hint: String): String =
    f.getOrElse(name, throw graft.errors.Errors.config(
      s"missing required --$name.", hint))

  /** Corpus read for the training-data commands: parquet (the scale
    * path) or JSONL (the lingua franca of LLM data drops — one JSON
    * object per line, `.jsonl`/`.json`/`.jsonl.gz` by extension or
    * forced with `--input-format`). JSONL schema inference costs one
    * extra full read of the data; at corpus scale convert to parquet
    * once and run every later stage against that. */
  private def readCorpus(spark: SparkSession, path: String,
      format: Option[String]): org.apache.spark.sql.DataFrame =
    format.getOrElse(inferFormat(path)) match {
      case "parquet"         => spark.read.parquet(path)
      case "jsonl" | "json"  => spark.read.json(path)
      case other => throw graft.errors.Errors.config(
        s"unknown corpus format '$other'.", "use parquet or jsonl")
    }

  private def writeCorpus(df: org.apache.spark.sql.DataFrame, path: String,
      format: Option[String]): Unit =
    format.getOrElse(inferFormat(path)) match {
      case "parquet"        => df.write.mode("overwrite").parquet(path)
      case "jsonl" | "json" => df.write.mode("overwrite").json(path)
      case other => throw graft.errors.Errors.config(
        s"unknown corpus format '$other'.", "use parquet or jsonl")
    }

  private def inferFormat(path: String): String =
    if (path.endsWith(".jsonl") || path.endsWith(".json") ||
        path.endsWith(".jsonl.gz") || path.endsWith(".json.gz")) "jsonl"
    else "parquet"

  private def flags(args: Array[String]): (Map[String, String], List[String]) = {
    val m = scala.collection.mutable.Map.empty[String, String]
    val pos = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val k = a.drop(2)
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          m(k) = args(i + 1); i += 2
        } else { m(k) = "true"; i += 1 }
      } else { pos += a; i += 1 }
    }
    (m.toMap, pos.toList)
  }

  // ---- config loading ------------------------------------------------

  final case class Config(
      labels: Labels,
      features: Seq[Feature],
      options: BuildOptions,
      outputDir: Option[String])

  def loadConfig(path: String): Config = {
    val root = MiniYaml.parse(Files.readString(Paths.get(path)))
    def str(m: Map[String, Any], k: String): Option[String] =
      m.get(k).map(_.toString)
    def strList(m: Map[String, Any], k: String): Seq[String] = m.get(k) match {
      case Some(l: List[_]) => l.map(_.toString)
      case Some(s: String)  => Seq(s)
      case _                => Nil
    }
    def sub(k: String): Map[String, Any] = root.get(k) match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _                  => Map.empty
    }

    val lbl = sub("labels")
    val labels = Labels.parquet(
      str(lbl, "path").getOrElse(throw graft.errors.Errors.config(
        "labels.path missing in config.", "Add labels: {path: ...}")),
      strList(lbl, "keys"),
      str(lbl, "label_time").getOrElse("label_time"),
      strList(lbl, "target"))

    val feats = root.get("features") match {
      case Some(l: List[_]) => l.map {
        case fm: Map[_, _] =>
          val f = fm.asInstanceOf[Map[String, Any]]
          val name = str(f, "name").getOrElse(throw graft.errors.Errors.config(
            "feature missing name.", "Every feature needs name:"))
          val srcPath = str(f, "source").getOrElse(throw graft.errors.Errors.config(
            s"feature '$name' missing source.", "Add source: /path/to.parquet"))
          val keys = strList(f, "keys")
          val tsCol = str(f, "timestamp").getOrElse("updated_at")
          val source =
            if (srcPath.endsWith(".csv"))
              Source.csv(name + "_src", srcPath, keys, tsCol,
                delimiter = str(f, "delimiter").getOrElse(","))
            else Source.parquet(name + "_src", srcPath, keys, tsCol)
          val mode: FeatureMode = (str(f, "sql"), strList(f, "columns")) match {
            case (Some(_), cols) if cols.nonEmpty => throw graft.errors.Errors.config(
              s"feature '$name' sets BOTH sql and columns.", "Set exactly one mode.")
            case (Some(sqlText), _) => SqlMode(sqlText)
            case (None, cols) if cols.nonEmpty => ColumnsMode(cols.map(c => c -> c).toMap)
            case _ => throw graft.errors.Errors.config(
              s"feature '$name' needs columns or sql.", "Set exactly one mode.")
          }
          Feature(name, source, mode,
            embargo = Durations.parse(str(f, "embargo").getOrElse("0")),
            keyMapping = f.get("key_mapping") match {
              case Some(m: Map[_, _]) =>
                m.asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.toString }
              case _ => Map.empty
            },
            onDuplicate = OnDuplicate.parse(str(f, "on_duplicate").getOrElse("error")),
            maxStaleness = str(f, "max_staleness").map(Durations.parse))
        case other => throw graft.errors.Errors.config(
          s"bad feature entry: $other.", "features must be a list of maps")
      }
      case _ => Nil
    }

    val d = sub("defaults")
    val splits = root.get("splits") match {
      case Some(l: List[_]) => l.map {
        case sm: Map[_, _] =>
          val s = sm.asInstanceOf[Map[String, Any]]
          Split(
            str(s, "name").getOrElse(throw graft.errors.Errors.config(
              "split missing name.", "Every split needs name/start/end")),
            str(s, "start").getOrElse(throw graft.errors.Errors.config(
              "split missing start.", "Every split needs name/start/end")),
            str(s, "end").getOrElse(throw graft.errors.Errors.config(
              "split missing end.", "Every split needs name/start/end")))
        case other => throw graft.errors.Errors.config(
          s"bad split entry: $other.", "splits must be a list of {name,start,end}")
      }
      case _ => Nil
    }
    // `store:` config key wires the build/feature cache exactly like the
    // reference CLI (cli.py:169-174 defaults to its ".timefence" dir);
    // `store: none` opts out.
    val store = root.get("store").map(_.toString).getOrElse(".graft") match {
      case "none" | "false" | "off" => None
      case path                     => Some(new graft.store.Store(path))
    }
    val options = BuildOptions(
      join = str(d, "join").getOrElse("strict"),
      onMissing = str(d, "on_missing").getOrElse("null"),
      maxLookback = Durations.parse(str(d, "max_lookback").getOrElse("365d")),
      flattenColumns = str(d, "flatten_columns").exists(_.toBoolean),
      splits = splits,
      store = store)

    Config(labels, feats, options, str(sub("output"), "dir"))
  }

  // ---- commands ------------------------------------------------------

  private[graft] def cmdBuild(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val cfg = loadConfig(f.getOrElse("config", "graft.yaml"))
    val out = f.get("output")
      .orElse(cfg.outputDir.map(d => s"$d/train.parquet"))
    if (f.contains("dry-run")) return cmdExplainCfg(cfg)
    // --split name:start:end (repeatable via comma) overrides config
    val flagSplits = f.get("split").toSeq.flatMap(_.split(",")).map { s =>
      s.split(":", 3) match {
        case Array(n, a, b) => Split(n, a, b)
        case _ => throw graft.errors.Errors.config(
          s"bad --split '$s'.", "Use name:start:end")
      }
    }
    // flag overrides mirroring the reference build options
    // (cli.py:475-492): --flatten, --max-lookback, --max-staleness
    // (applied to every feature), --on-missing
    val withStaleness = f.get("max-staleness") match {
      case Some(d) => cfg.features.map(_.copy(maxStaleness = Some(Durations.parse(d))))
      case None    => cfg.features
    }
    val opts = cfg.options.copy(output = out,
      splits = if (flagSplits.nonEmpty) flagSplits else cfg.options.splits,
      flattenColumns = f.contains("flatten") || cfg.options.flattenColumns,
      maxLookback = f.get("max-lookback").map(Durations.parse)
        .getOrElse(cfg.options.maxLookback),
      onMissing = f.getOrElse("on-missing", cfg.options.onMissing))
    val spark = session()
    // plain stdout stage lines — the reference's rich progress bar
    // (cli.py:629-668) minus rich; same per-feature step granularity
    val n = withStaleness.size
    val step = new java.util.concurrent.atomic.AtomicInteger(0)
    val r = Build(spark, cfg.labels, withStaleness, opts.copy(
      progress = (stage, feat) => {
        val i = step.incrementAndGet()
        val what = if (feat.isEmpty) stage else s"$stage $feat"
        println(s"[build ${i}/${2 * n + 3}] $what")
      }))
    r.warnings.foreach(w => System.err.println(s"warning: $w"))
    println(s"rows=${r.rows} columns=${r.columns.size} audit_passed=${r.auditPassed}")
    r.features.foreach(s =>
      println(f"  ${s.name}%-30s matched=${s.matched} missing=${s.missing} violations=${s.violations}"))
    out.foreach(o => println(s"wrote $o"))
    if (r.auditPassed) 0 else 1
  }

  private def cmdExplain(args: Array[String]): Int = {
    val (f, _) = flags(args)
    cmdExplainCfg(loadConfig(f.getOrElse("config", "graft.yaml")))
  }

  private def cmdExplainCfg(cfg: Config): Int = {
    val spark = session()
    print(Explain(spark, cfg.labels, cfg.features, cfg.options).render)
    0
  }

  /** Two modes like the reference CLI: temporal
    * (`--feature-time-cols f=col,...`) or rebuild-and-compare
    * (`--config graft.yaml` supplying the feature definitions). */
  private def cmdAudit(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val spark = session()
    val data = spark.read.parquet(req(f, "data", "audit needs --data PATH"))
    val r = f.get("feature-time-cols") match {
      case Some(spec) =>
        val mapping = spec.split(",").map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => k -> v
            case _ => throw graft.errors.Errors.config(
              s"bad --feature-time-cols item '$kv'.", "Use name=column[,name=column]")
          }
        }.toMap
        Audit.temporal(data, f.getOrElse("label-time", "label_time"), mapping)
      case None =>
        val cfg = loadConfig(f.getOrElse("config", "graft.yaml"))
        Audit.rebuild(spark, data, cfg.features, cfg.labels.keys,
          f.getOrElse("label-time", cfg.labels.labelTime), cfg.options)
    }
    println(r.toJson)
    // --json PATH / --html PATH file exports (cli.py:344-345)
    f.get("json").filter(_ != "true").foreach(r.toJson)
    f.get("html").filter(_ != "true").foreach(r.toHtml)
    if (!r.passed && f.contains("strict")) 1 else 0
  }

  private def cmdDiff(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val spark = session()
    val r = Diff(
      spark.read.parquet(req(f, "old", "diff needs --old PATH")),
      spark.read.parquet(req(f, "new", "diff needs --new PATH")),
      req(f, "keys", "diff needs --keys a[,b]").split(",").toSeq,
      f.getOrElse("label-time", "label_time"))
    println(s"old_rows=${r.oldRows} new_rows=${r.newRows} common=${r.commonRows}")
    if (r.addedColumns.nonEmpty) println(s"added: ${r.addedColumns.mkString(", ")}")
    if (r.removedColumns.nonEmpty) println(s"removed: ${r.removedColumns.mkString(", ")}")
    r.columns.filterNot(c => c.changed == 0 && c.nullTransitions == 0).foreach(c =>
      println(f"  ${c.column}%-30s changed=${c.changed} null_trans=${c.nullTransitions}" +
        c.meanDelta.map(d => f" mean_delta=$d%.6g").getOrElse("") +
        c.maxAbsDelta.map(d => f" max_abs=$d%.6g").getOrElse("")))
    if (r.identical) 0 else 1
  }

  private[graft] def cmdInspect(args: Array[String]): Int = {
    val (f, pos) = flags(args)
    val spark = session()
    val path = pos.headOption.getOrElse(throw graft.errors.Errors.config(
      "inspect needs a path argument.", "Usage: graft inspect PATH [--approx]"))
    val df = spark.read.parquet(path)
    val n = df.count()
    println(s"$path: $n rows, ${df.columns.length} columns")
    // --approx: HLL++ sketches (2% default rsd) merge map-side — one
    // narrow shuffle of fixed-size sketches instead of per-column
    // exact-distinct state. The key/timestamp HINTS only need distinct
    // ratios, so at cluster scale approx is the right default mode for
    // wide datasets; exact stays the small-data default (bit-stable
    // output the quickstart and tests pin).
    val distinctOf: String => org.apache.spark.sql.Column =
      if (f.contains("approx")) c => approx_count_distinct(col(c), 0.02)
      else c => countDistinct(col(c))
    val distincts = df.select(df.columns.map(c =>
      distinctOf(c).as(c)).toSeq: _*).head()
    df.schema.fields.zipWithIndex.foreach { case (fld, i) =>
      val d = distincts.getLong(i)
      val pct = if (n == 0) 0.0 else d.toDouble / n
      val hint =
        if (pct > 0.99 && fld.dataType.typeName.contains("long")) "  <- key?"
        else if (fld.dataType.typeName.startsWith("timestamp") && pct > 0.1) "  <- timestamp?"
        else ""
      println(f"  ${fld.name}%-25s ${fld.dataType.simpleString}%-15s distinct=$d ($pct%.1f%%)$hint")
    }
    0
  }

  private def cmdCatalog(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val store = new graft.store.Store(f.getOrElse("store", ".graft"))
    val builds = store.listManifests()
    if (builds.isEmpty) { println("no builds"); return 0 }
    builds.foreach { b =>
      val m = store.loadManifest(b)
        .flatMap(graft.util.Jsons.parseObject)
        .getOrElse(Map.empty[String, Any])
      def field(path: String*): String =
        graft.util.Jsons.at(m, path: _*).map(_.toString).getOrElse("?")
      println(s"$b  created=${field("created_at")}  rows=${field("rows")}  " +
        s"columns=${field("output", "column_count")}  audit_passed=${field("audit_passed")}  " +
        s"output=${field("output", "output_path")}")
    }
    0
  }

  /** Project health check; the check list mirrors the reference doctor
    * (`cli.py:922-1090`): config, labels schema vs keys, source
    * existence, duplicate (key, timestamp) rows per source (WARN), and
    * cross-feature namespaced column conflicts (WARN). FAIL → exit 1;
    * WARNs alone keep exit 0, like the reference. */
  private def cmdDoctor(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val path = f.getOrElse("config", "graft.yaml")
    val jsonOut = f.contains("json")
    var fails = 0
    val collected = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    def emit(): Unit = if (jsonOut) {
      import graft.util.Jsons
      println(Jsons.obj("checks" -> collected.toSeq.map { case (s, m, d) =>
        Jsons.Raw(Jsons.obj("status" -> s, "message" -> m, "detail" -> d))
      }))
    }
    def check(status: String, message: String, detail: String = ""): Unit = {
      collected += ((status, message, detail))
      if (!jsonOut) {
        println(f"$status%-5s $message")
        if (detail.nonEmpty) println(s"      $detail")
      }
      if (status == "FAIL") fails += 1
    }
    def attempt(name: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable => check("FAIL", s"$name: ${e.getMessage}")
      }

    if (!Files.exists(Paths.get(path))) {
      check("FAIL", s"config $path not found")
      emit()
      return 1
    }
    check("OK", s"$path found")
    val cfg =
      try loadConfig(path)
      catch {
        case e: Throwable =>
          check("FAIL", s"config does not parse: ${e.getMessage}"); emit(); return 1
      }
    check("OK", "config parses")
    check(
      if (cfg.features.map(_.name).distinct.size == cfg.features.size) "OK" else "FAIL",
      "feature names unique")

    val labelsExist = cfg.labels.path.exists(p => Files.exists(Paths.get(p)))
    check(if (labelsExist) "OK" else "FAIL", "labels path exists")
    cfg.features.foreach { ft =>
      ft.source match {
        case s: Source =>
          s.path.foreach(p =>
            if (!Files.exists(Paths.get(p)))
              check("FAIL", s"source file not found: $p"))
        case _ => ()
      }
    }

    // namespaced column conflicts across features (driver-side only)
    val conflicts = cfg.features.flatMap(ft => ft.mode match {
      case ColumnsMode(cols) => cols.keys.map(c => graft.util.Names.namespaced(ft.name, c))
      case _                 => Nil
    }).groupBy(identity).collect { case (c, cs) if cs.size > 1 => c }
    check(if (conflicts.isEmpty) "OK" else "WARN",
      if (conflicts.isEmpty) "no column name conflicts between features"
      else s"column name conflicts: ${conflicts.mkString(", ")}")

    // Spark-backed checks: the label-schema probe needs the labels
    // file, but the per-source checks must run EITHER WAY — a labels
    // path typo should not hide real source problems the user would
    // otherwise fix in the same pass (reference doctor checks sources
    // independently, cli.py:922-1090)
    lazy val spark = session()
    if (labelsExist) {
      attempt("label schema check") {
        val cols = spark.read.parquet(cfg.labels.path.get).columns.toSet
        val missing = (cfg.labels.keys :+ cfg.labels.labelTime).filterNot(cols)
        if (missing.nonEmpty)
          check("FAIL", s"label file missing columns: ${missing.mkString(", ")}")
        else check("OK", "label file schema matches keys and label_time")
      }
    }
    locally {
      // duplicate (key, timestamp) rows per distinct path-backed source
      val seen = scala.collection.mutable.Set.empty[String]
      cfg.features.foreach { ft =>
        ft.source match {
          case s: Source if s.path.exists(p =>
              Files.exists(Paths.get(p)) && seen.add(p)) =>
            attempt(s"duplicate check '${s.name}'") {
              val df = s.resolve(spark)
              val have = df.columns.toSet
              if ((s.keys :+ s.timestamp).forall(have)) {
                val dups = df.groupBy((s.keys :+ s.timestamp).map(col): _*)
                  .count().filter(col("count") > 1).count()
                if (dups > 0)
                  check("WARN",
                    s"source '${s.name}' has $dups duplicate (${s.keys.mkString(",")}, ${s.timestamp}) groups",
                    "Deduplicate upstream or set on_duplicate: keep_any.")
                else check("OK", s"source '${s.name}' has no duplicate (key, timestamp) rows")
              } else check("WARN",
                s"source '${s.name}' missing declared key/timestamp columns; skipping duplicate check")
            }
          case _ => ()
        }
      }
    }
    emit()
    if (fails == 0) 0 else 1
  }

  /** Demo flow mirroring the reference's quickstart
    * (`quickstart.py:12-38`): generate users/transactions/labels,
    * build a training set, then audit it clean. */
  private def cmdQuickstart(args: Array[String]): Int = {
    val (_, pos) = flags(args)
    val dir = Paths.get(pos.headOption.getOrElse("graft_quickstart"))
    Files.createDirectories(dir)
    val spark = session()

    val users = spark.range(1, 1001).select(
      col("id").as("user_id"),
      element_at(lit(Array("US", "UK", "DE")), (col("id") % 3 + 1).cast("int")).as("country"),
      (lit(java.sql.Timestamp.valueOf("2023-01-15 00:00:00")) +
        make_dt_interval(col("id") % 300)).as("updated_at"),
      element_at(lit(Array("free", "pro", "team")), (col("id") % 3 + 1).cast("int")).as("tier"))
    val txns = spark.range(1, 20001).select(
      (col("id") % 1000 + 1).as("user_id"),
      (lit(java.sql.Timestamp.valueOf("2022-01-01 00:00:00")) +
        make_dt_interval(col("id") * 13 % 900, col("id") % 24,
          // txn index within the user as minutes -> unique (key, ts)
          (col("id") / 1000).cast("int") % 60, lit(0))).as("created_at"),
      round((col("id") * 17 % 2000) / 10.0, 2).as("amount"))
    val labels = spark.range(1, 5001).select(
      (col("id") % 1000 + 1).as("user_id"),
      (lit(java.sql.Timestamp.valueOf("2023-06-01 00:00:00")) +
        make_dt_interval(col("id") % 540)).as("label_time"),
      (col("id") % 5 === 0).as("churned"))
    users.write.mode("overwrite").parquet(s"$dir/users.parquet")
    txns.write.mode("overwrite").parquet(s"$dir/transactions.parquet")
    labels.write.mode("overwrite").parquet(s"$dir/labels.parquet")

    val lbl = Labels.parquet(s"$dir/labels.parquet", Seq("user_id"), "label_time", Seq("churned"))
    val fCountry = Feature("user_country",
      Source.parquet("users", s"$dir/users.parquet", Seq("user_id"), "updated_at"),
      ColumnsMode(Map("country" -> "country", "tier" -> "tier")))
    val fSpend = Feature("rolling_spend",
      Source.parquet("transactions", s"$dir/transactions.parquet", Seq("user_id"), "created_at"),
      SqlMode(
        """SELECT user_id, created_at AS feature_time,
          |  SUM(amount) OVER (PARTITION BY user_id ORDER BY created_at
          |    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS spend_30d
          |FROM {source}""".stripMargin),
      embargo = Durations.parse("1d"))
    val out = s"$dir/train.parquet"
    val r = Build(spark, lbl, Seq(fCountry, fSpend),
      BuildOptions(output = Some(out), maxLookback = Durations.parse("900d")))
    println(s"built $out: ${r.rows} rows x ${r.columns.size} cols, audit_passed=${r.auditPassed}")

    val audit = Audit.rebuild(spark, spark.read.parquet(out),
      Seq(fCountry, fSpend), Seq("user_id"), "label_time",
      BuildOptions(maxLookback = Durations.parse("900d")))
    println(s"rebuild audit passed=${audit.passed}")
    audit.details.foreach(d =>
      println(s"  ${d.feature}: leaky=${d.leakyRows} severity=${d.severity} mismatches=${d.mismatches.values.sum}"))
    if (r.auditPassed && audit.passed) 0 else 1
  }

  /** The corpus-hygiene pipeline from the command line: every stage
    * of [[graft.ops.Curation.curate]] behind flags, the per-stage drop
    * ledger on stdout (and as JSON with --json), the curated corpus
    * written as parquet. Near-dup signatures use the xxhash64 kernel —
    * the production hasher. */
  private[graft] def cmdCurate(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val spark = session()
    import graft.ops.{Curation, Dedup, QualityFilters}
    val input = req(f, "input", "curate needs --input PATH (a parquet corpus)")
    val output = req(f, "output", "curate needs --output PATH")
    val mediaFlags = Seq("image-col", "image-hash-col", "audio-col", "video-col")
      .filter(f.contains)
    if (mediaFlags.size > 1)
      throw graft.errors.Errors.config(
        s"--${mediaFlags.mkString(" and --")} are mutually exclusive.",
        "the perceptual-hash dedup stage takes ONE media identity: a raw " +
          "binary column (--image-col/--audio-col/--video-col) or a " +
          "precomputed 64-bit hash column (--image-hash-col)")
    if (mediaFlags.nonEmpty) {
      val mh = f.getOrElse("image-max-hamming", "2").toInt
      val bd = f.getOrElse("image-bands", "4").toInt
      if (64 % bd != 0 || mh >= bd) throw graft.errors.Errors.config(
        s"image dedup needs bands dividing 64 and max-hamming < bands " +
          s"(got max-hamming $mh, bands $bd).",
        "e.g. --image-max-hamming 2 --image-bands 4")
    }
    val hygiene = Curation.HygieneConfig(
      c4 = if (f.contains("c4")) Some(Curation.C4Config()) else None,
      gopher = if (f.contains("gopher")) Some(QualityFilters.GopherConfig()) else None,
      repetition =
        if (f.contains("repetition")) Some(QualityFilters.RepetitionConfig()) else None,
      lineDedup = f.contains("line-dedup"),
      // --fix-mojibake [PASSES]: repair CP1252 mis-decoding before the
      // quality verdict (transport damage is not a quality signal);
      // bare flag = 1 pass, a value adds double-decode unwinding
      mojibakePasses = f.get("fix-mojibake")
        .map(v => if (v == "true") 1 else v.toInt).getOrElse(0),
      blocklist = f.get("blocklist").map(_.split(",").toSeq.filter(_.nonEmpty)),
      urlCol = f.get("url-col"),
      // --image-hash-col names a PRECOMPUTED 64-bit hash column;
      // --image-col / --audio-col / --video-col name a raw binary
      // media column and compute the matching 64-bit perceptual hash
      // scan-side below (decode cost rides the corpus read) — the
      // stage itself is hash-agnostic (ImageDupConfig accepts any
      // 64-bit locality key)
      imageDup = (if (mediaFlags.exists(_ != "image-hash-col")) Some("__media_hash64")
        else f.get("image-hash-col")).map(c =>
          Curation.ImageDupConfig(c,
            maxHamming = f.getOrElse("image-max-hamming", "2").toInt,
            bands = f.getOrElse("image-bands", "4").toInt)),
      boilerplate = f.get("boilerplate-max-doc-freq").map(m =>
        Curation.BoilerplateConfig(maxDocFreq = m.toLong)),
      // a bare flag parses as "true" -> the documented default size
      spanDedup = f.get("span-dedup").map(v =>
        Curation.SpanDedupConfig(span = if (v == "true") 3 else v.toInt)),
      exactSubstr = f.get("exact-substr").map(v =>
        Curation.ExactSubstrConfig(k = if (v == "true") 20 else v.toInt)),
      unigram = f.get("unigram-buckets").map { b =>
        Curation.UnigramConfig(buckets = b.toInt,
          keepBuckets = f.get("unigram-keep").map(_.toInt)
            .getOrElse(math.max(1, b.toInt - 1)))
      },
      // the CCNet scoring model proper: --bigram-buckets triggers the
      // stage (self-trained LM), --bigram-model scores under a
      // persisted clean-reference LM (saveBigramModel's layout) —
      // same flag shape as the unigram stage
      bigram =
        if (f.contains("bigram-buckets") || f.contains("bigram-model")) {
          val b = f.get("bigram-buckets").map(_.toInt).getOrElse(3)
          Some(Curation.BigramConfig(buckets = b,
            keepBuckets = f.get("bigram-keep").map(_.toInt)
              .getOrElse(math.max(1, b - 1)),
            model = f.get("bigram-model")
              .map(QualityFilters.loadBigramModel(spark, _))))
        } else None,
      decontaminate = f.get("decontaminate").map(path =>
        Curation.DecontaminateConfig(readCorpus(spark, path, f.get("aux-format")),
          n = f.getOrElse("decontaminate-ngram", "8").toInt,
          bloom = f.contains("decontaminate-bloom"))),
      semDedup = f.get("semdedup-col").map(c =>
        Curation.SemDeDupConfig(c,
          threshold = f.getOrElse("semdedup-threshold", "0.95").toDouble,
          nlist = f.getOrElse("semdedup-nlist", "16").toInt)),
      // auxiliary corpora (eval sets, reference positives, DSIR
      // targets) infer their format from their OWN paths —
      // --input-format describes the primary --input only, and
      // forcing it onto auxiliaries broke mixed-format runs.
      // --aux-format forces ALL auxiliaries (extensionless jsonl
      // part-file directories cannot be inferred)
      classifier = f.get("classifier-positives").map(pp =>
        Curation.ClassifierConfig(
          positives = Some(readCorpus(spark, pp, f.get("aux-format"))),
          minProb = f.getOrElse("classifier-min-prob", "0.5").toDouble,
          negativeRate = f.getOrElse("classifier-negative-rate", "0.01").toDouble,
          buckets = f.getOrElse("classifier-buckets", "65536").toInt))
        .orElse(f.get("classifier-model").map(mp =>
          Curation.ClassifierConfig(
            model = Some(graft.ops.QualityClassifier.load(spark, mp)),
            minProb = f.getOrElse("classifier-min-prob", "0.5").toDouble))),
      // --max-per-domain caps each --domain-col group at its N best
      // survivors; the ranking column defaults to a synthesized
      // character length (dropped again before the write, below)
      domainCap = f.get("max-per-domain").map(k =>
        Curation.DomainCapConfig(
          stratumCol = f.getOrElse("domain-col", "source"),
          k = k.toInt,
          orderCol = f.getOrElse("domain-order-col", "__domain_order"))),
      // --soft-quality-pivot: score-proportional keep instead of the
      // hard minQuality floor (combine with --min-quality 0 to go
      // fully soft, or keep both: floor first, soft decay above it)
      softQuality = f.get("soft-quality-pivot").map(pv =>
        Curation.SoftQualityConfig(pv.toDouble,
          sharpness = f.getOrElse("soft-quality-sharpness", "1.0").toDouble,
          seed = f.getOrElse("soft-quality-seed", "42").toInt)),
      dsir = f.get("dsir-target").map(path =>
        Curation.DsirConfig(readCorpus(spark, path, f.get("aux-format")),
          k = req(f, "dsir-k", "--dsir-target needs --dsir-k N (how many docs to select)").toInt,
          buckets = f.getOrElse("dsir-buckets", "65536").toInt,
          temperature = f.getOrElse("dsir-temperature", "1.0").toDouble)))
    val nearDup = f.getOrElse("near-dup", "minhash") match {
      case "minhash" => Curation.NearDup.MinhashLsh
      case "ngram"   => Curation.NearDup.NgramExact
      case other => throw graft.errors.Errors.config(
        s"unknown --near-dup '$other'.",
        "use minhash (LSH, the scale default) or ngram (exact Jaccard)")
    }
    val languages = f.get("languages") match {
      case Some("none") => Nil
      case Some(ls)     => ls.split(",").toSeq
      case None         => Seq("en")
    }
    val corpus = {
      val raw = readCorpus(spark, input, f.get("input-format"))
      import graft.ops.Multimodal.{MediaHash, mediaHashCol}
      Seq("image-col" -> MediaHash.Image, "audio-col" -> MediaHash.Audio,
          "video-col" -> MediaHash.VideoKeyframe)
        .collectFirst { case (flag, kind) if f.contains(flag) =>
          raw.withColumn("__media_hash64", mediaHashCol(col(f(flag)), kind)) }
        .getOrElse(raw)
    }
    // default domain-cap ranking: document length in characters,
    // synthesized scan-side and dropped again before the write; the
    // near-dup keep column accepts the special value "length" the same
    // way (keep the longest page of each duplicate cluster)
    val capped = {
      val withDomain =
        if (f.contains("max-per-domain") && !f.contains("domain-order-col"))
          corpus.withColumn("__domain_order",
            length(col(f.getOrElse("text-col", "text"))))
        else corpus
      // the special value "length" is only special when the corpus has
      // no column of that name — a real `length` column wins, so the
      // magic word can never silently shadow user data
      if (f.get("near-dup-keep-col").contains("length") &&
          !withDomain.columns.contains("length"))
        withDomain.withColumn("__neardup_order",
          length(col(f.getOrElse("text-col", "text"))))
      else withDomain
    }
    val r = Curation.curate(
      capped,
      idCol = f.getOrElse("id-col", "doc_id"),
      textCol = f.getOrElse("text-col", "text"),
      minQuality = f.getOrElse("min-quality", "0.3").toDouble,
      languages = languages,
      nearDupThreshold = f.getOrElse("near-dup-threshold", "0.8").toDouble,
      nearDup = nearDup,
      hygiene = hygiene,
      hasher = Dedup.xxHash,
      resume = f.get("resume-dir"),
      nearDupKeepCol = f.get("near-dup-keep-col")
        .map(c => if (c == "length" && capped.columns.contains("__neardup_order"))
          "__neardup_order" else c))
    writeCorpus(
      r.df.drop("__media_hash64", "__domain_order", "__neardup_order"),
      output, f.get("output-format"))
    r.release() // output is on disk; drop the pipeline's internal caches
    println(s"input_rows=${r.stats.input}")
    val dropped = r.stats.dropped
    r.stats.stages.foreach { case (name, n) =>
      println(f"  $name%-12s survivors=$n%-10d dropped=${dropped(name)}") }
    println(s"curated_rows=${r.stats.output} written=$output")
    f.get("json").foreach { jp =>
      val stagesJson = r.stats.stages.map { case (name, n) =>
        graft.util.Jsons.obj("stage" -> name, "survivors" -> n,
          "dropped" -> dropped(name))
      }.mkString("[", ",", "]")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(jp),
        "{\"input_rows\":" + r.stats.input + ",\"curated_rows\":" + r.stats.output +
          ",\"stages\":" + stagesJson + "}")
      println(s"ledger_json=$jp")
    }
    0
  }

  /** Training-sequence packing from the command line:
    * [[graft.ops.Sampling.packSequences]] then either
    * [[graft.ops.Sampling.chunkPacks]] (`--seq-len`: fixed-length
    * sequences with doc-boundary bookkeeping) or
    * [[graft.ops.Sampling.materializePacks]] (whole concatenated
    * packs). `--token-count bpe` budgets with the BPE-ish estimate;
    * a column name budgets with precomputed real-tokenizer counts. */
  private[graft] def cmdPack(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val spark = session()
    import graft.ops.{Sampling, TextAnalysis}
    val input = req(f, "input", "pack needs --input PATH (a parquet corpus)")
    val output = req(f, "output", "pack needs --output PATH")
    val idCol = f.getOrElse("id-col", "doc_id")
    val textCol = f.getOrElse("text-col", "text")
    val tokenCount = (f.get("token-count"), f.get("tokenizer")) match {
      case (_, Some(vp)) => Some(graft.ops.Tokenizer.tokenCount(col(textCol),
        graft.ops.Tokenizer.load(spark, vp)))
      case (Some("bpe"), _)               => Some(TextAnalysis.bpeTokenCount(col(textCol)))
      case (Some("whitespace") | None, _) => None
      case (Some(c), _)                   => Some(col(c))
    }
    if (!f.contains("ids")) {
      val idsOnly = Seq("eos", "pad", "keep-partial").filter(f.contains)
      if (idsOnly.nonEmpty) throw graft.errors.Errors.config(
        s"${idsOnly.map("--" + _).mkString(", ")} only apply to the " +
          "token-ID export.", "add --ids (and --tokenizer DIR)")
    }
    if (f.contains("ids")) {
      // trainer-sequence export: fixed-length token-ID arrays
      val vp = req(f, "tokenizer",
        "pack --ids exports token-id sequences: needs --tokenizer DIR")
      // --pad only applies to the partial final sequence of a pack;
      // with the default drop-partial policy there is nothing to pad
      // and the flag would silently no-op — fail fast instead (same
      // style as the --ids guard above)
      if (f.contains("pad") && !f.contains("keep-partial"))
        throw graft.errors.Errors.config(
          "--pad pads the partial final sequences, but partial " +
            "sequences are dropped by default.", "add --keep-partial")
      val out = graft.ops.Tokenizer.packToSequences(
        readCorpus(spark, input, f.get("input-format")),
        graft.ops.Tokenizer.load(spark, vp), idCol, textCol,
        seqLen = f.getOrElse("seq-len", "2048").toInt,
        groups = f.getOrElse("groups", "1024").toInt,
        seed = f.getOrElse("seed", "42").toInt,
        dropPartial = !f.contains("keep-partial"),
        eos = f.get("eos"), pad = f.get("pad"))
      writeCorpus(out, output, f.get("output-format"))
      val n = readCorpus(spark, output, f.get("output-format")).count()
      println(s"sequences=$n written=$output")
      return 0
    }
    val assigned = Sampling.packSequences(
      readCorpus(spark, input, f.get("input-format")),
      idCol, textCol,
      tokenBudget = f.getOrElse("token-budget", "2048").toLong,
      groups = f.getOrElse("groups", "1024").toInt,
      seed = f.getOrElse("seed", "42").toInt,
      tokenCount = tokenCount)
    val out = f.get("seq-len") match {
      case Some(sl) => Sampling.chunkPacks(assigned, idCol, textCol,
        seqLen = sl.toInt, dropPartial = f.contains("drop-partial"))
      case None => Sampling.materializePacks(assigned, idCol, textCol)
    }
    writeCorpus(out, output, f.get("output-format"))
    val n = readCorpus(spark, output, f.get("output-format")).count()
    println(s"${if (f.contains("seq-len")) "sequences" else "packs"}=$n written=$output")
    // --report: the packing-efficiency rollup (fill vs budget, pad
    // waste at the chunking seqLen) a trainer reads before launching
    if (f.contains("report")) {
      val r = Sampling.packReport(assigned,
        tokenBudget = f.getOrElse("token-budget", "2048").toLong,
        idCol = idCol, textCol = textCol,
        seqLen = f.getOrElse("seq-len", "2048").toInt,
        tokenCount = tokenCount).collect().head
      println(f"packs=${r.getAs[Long]("n_packs")} docs=${r.getAs[Long]("n_docs")} " +
        f"tokens=${r.getAs[Long]("total_tokens")} chunks=${r.getAs[Long]("total_chunks")} " +
        f"pad=${r.getAs[Long]("pad_tokens")} mean_fill=${r.getAs[Double]("mean_fill")}%.4f " +
        f"utilization=${r.getAs[Double]("utilization")}%.4f")
    }
    0
  }

  /** `graft dsir --input raw.parquet (--target target.parquet |
    * --target-dist dist.parquet) --output selected.parquet --k N
    * [--buckets 65536] [--alpha 1.0] [--temperature 1.0] [--seed 42]
    * [--id-col doc_id] [--text-col text] [--weights-only]
    * [--save-target-dist PATH]`: DSIR importance resampling
    * ([[graft.ops.Dsir]]) — score every raw doc against the target
    * distribution (fit here from --target, or a persisted fit from
    * --target-dist), then Gumbel-top-k select (or, with
    * `--weights-only`, write the scored corpus instead). */
  private[graft] def cmdDsir(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val spark = session()
    import graft.ops.Dsir
    val input = req(f, "input", "dsir needs --input PATH (the raw parquet corpus)")
    val output = req(f, "output", "dsir needs --output PATH")
    val idCol = f.getOrElse("id-col", "doc_id")
    val textCol = f.getOrElse("text-col", "text")
    val buckets = f.getOrElse("buckets", "65536").toInt
    val alpha = f.getOrElse("alpha", "1.0").toDouble
    // --target-dist reuses a persisted fit (the recurring-refresh
    // shape); --target fits the target corpus here, and
    // --save-target-dist persists that fit for the next refresh
    val targetDist = f.get("target-dist") match {
      case Some(dp) => Dsir.loadDistribution(spark, dp)
      case None =>
        val t = req(f, "target",
          "dsir needs --target PATH (a target-domain parquet corpus) or --target-dist PATH")
        // auxiliary target corpus: format inferred from its own
        // path (--input-format describes --input; --aux-format forces)
        val dist = Dsir.bucketDistribution(
          readCorpus(spark, t, f.get("aux-format")), textCol, buckets)
        f.get("save-target-dist").foreach { sp =>
          Dsir.saveDistribution(dist, sp)
          println(s"target_dist=$sp (buckets=$buckets)")
        }
        dist
    }
    val scored = Dsir.importanceWeightsFromTarget(
      readCorpus(spark, input, f.get("input-format")), targetDist, textCol,
      buckets = buckets, alpha = alpha)
    val out =
      if (f.contains("weights-only")) scored
      else Dsir.resampleTopK(scored,
        k = req(f, "k", "dsir needs --k N (or --weights-only)").toInt,
        idCol = idCol,
        seed = f.getOrElse("seed", "42").toInt,
        temperature = f.getOrElse("temperature", "1.0").toDouble)
    writeCorpus(out, output, f.get("output-format"))
    val n = readCorpus(spark, output, f.get("output-format")).count()
    println(s"${if (f.contains("weights-only")) "scored" else "selected"}=$n written=$output")
    0
  }

  /** `graft classify`: train ([[graft.ops.QualityClassifier.train]])
    * or load a quality classifier, then filter (or, with
    * `--score-only`, score) the input corpus. Without --negatives the
    * negative class is a deterministic 1% hash-sample of the input. */
  private[graft] def cmdClassify(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val spark = session()
    import graft.ops.{QualityClassifier, Sampling}
    val input = req(f, "input", "classify needs --input PATH (a parquet corpus)")
    val output = req(f, "output", "classify needs --output PATH")
    val textCol = f.getOrElse("text-col", "text")
    val buckets = f.getOrElse("buckets", "65536").toInt
    val raw = readCorpus(spark, input, f.get("input-format"))
    val model = f.get("model") match {
      case Some(mp) => QualityClassifier.load(spark, mp)
      case None =>
        // auxiliary corpora infer format from their own paths
        // (--aux-format forces, for extensionless jsonl directories)
        val pos = readCorpus(spark, req(f, "positives",
          "classify needs --positives PATH (a reference corpus) or --model DIR"),
          f.get("aux-format"))
        val neg = f.get("negatives").map(readCorpus(spark, _, f.get("aux-format")))
          .getOrElse(Sampling.hashSample(raw, f.getOrElse("id-col", "doc_id"), 0.01))
        val m = QualityClassifier.train(pos, neg, textCol, buckets)
        f.get("save-model").foreach { mp =>
          QualityClassifier.save(m, mp, spark)
          println(s"model=$mp (buckets=$buckets)")
        }
        m
    }
    val out =
      if (f.contains("score-only")) QualityClassifier.score(raw, model, textCol)
      else QualityClassifier.filterByQuality(raw, model,
        f.getOrElse("min-prob", "0.5").toDouble, textCol)
    writeCorpus(out, output, f.get("output-format"))
    val n = readCorpus(spark, output, f.get("output-format")).count()
    println(s"${if (f.contains("score-only")) "scored" else "kept"}=$n written=$output")
    0
  }

  /** `graft profile`: per-group corpus statistics + ROLLUP total
    * ([[graft.ops.TextAnalysis.corpusProfile]]) printed as a table,
    * optionally dumped as JSON. */
  private[graft] def cmdProfile(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val spark = session()
    val input = req(f, "input", "profile needs --input PATH (a parquet corpus)")
    val groupCol = f.getOrElse("group-col", "source")
    val textCol = f.getOrElse("text-col", "text")
    // --tokenizer: measure real token counts (the unit the trainer
    // consumes) instead of the whitespace default
    val tokens = f.get("tokenizer").map(vp => graft.ops.Tokenizer.tokenCount(
      col(textCol), graft.ops.Tokenizer.load(spark, vp)))
    // --approx [K]: the 100 TB path — distinct-text and novelty
    // numbers come from KMV sketches (k longs per task on the wire,
    // xxhash64 production hasher) instead of exact distinct shuffles;
    // error ~1/sqrt(K-2), exact below K. Approximate values print with
    // a ~ prefix so a reader never mistakes them for exact counts.
    val approxK: Option[Int] = f.get("approx").map { v =>
      val k = if (v == "true") 1024 else v.toInt
      if (k < 16) throw Errors.config(
        s"--approx wants a sketch size >= 16 (or no value for 1024), got '$v'.",
        "e.g. --approx 4096")
      k
    }
    // --diff-against OLD: the snapshot drift report instead of the
    // single-corpus profile — old = that path, new = --input
    f.get("diff-against").foreach { oldPath =>
      val d = graft.ops.TextAnalysis.profileDiff(
          readCorpus(spark, oldPath, f.get("input-format")),
          readCorpus(spark, input, f.get("input-format")),
          groupCol, textCol, tokens)
        .orderBy(col("is_total"), col(groupCol))
        .collect()
      val hdr = Seq(groupCol, "old_docs", "new_docs", "old_tokens",
        "new_tokens", "delta_tokens", "ratio", "status")
      val tbl = d.map { r =>
        Seq(if (r.getAs[Int]("is_total") == 1) "TOTAL" else String.valueOf(r.get(0)),
          r.getAs[Long]("old_docs").toString, r.getAs[Long]("new_docs").toString,
          r.getAs[Long]("old_tokens").toString, r.getAs[Long]("new_tokens").toString,
          r.getAs[Long]("delta_tokens").toString,
          if (r.isNullAt(r.fieldIndex("token_ratio"))) "-"
          else f"${r.getAs[Double]("token_ratio")}%.3f",
          r.getAs[String]("status"))
      }
      val ws = (hdr +: tbl.toSeq).transpose.map(_.map(_.length).max)
      (hdr +: tbl.toSeq).foreach { cells =>
        println(cells.zip(ws).map { case (c, w) => c.padTo(w, ' ') }.mkString("  "))
      }
      // --novelty [N]: the content-level drift the count table can't
      // see — distinct n-gram set change between the snapshots
      f.get("novelty").foreach { nv =>
        val n = if (nv == "true") 3 else nv.toInt
        approxK match {
          case Some(k) =>
            val r = graft.ops.TextAnalysis.ngramNoveltyApprox(
              readCorpus(spark, oldPath, f.get("input-format")),
              readCorpus(spark, input, f.get("input-format")), n, textCol, k,
              hasher = graft.functions.KmvSketch.hash52Fast).head()
            println(f"novelty(approx k=$k) n=$n old_ngrams~${r.getDouble(0)}%.0f " +
              f"new_ngrams~${r.getDouble(1)}%.0f novel~${r.getDouble(2)}%.0f " +
              f"lost~${r.getDouble(3)}%.0f novelty_rate=${r.getDouble(4)}%.4f " +
              f"lost_rate=${r.getDouble(5)}%.4f")
          case None =>
            val r = graft.ops.TextAnalysis.ngramNovelty(
              readCorpus(spark, oldPath, f.get("input-format")),
              readCorpus(spark, input, f.get("input-format")), n, textCol).head()
            println(f"novelty n=$n old_ngrams=${r.getLong(0)} " +
              f"new_ngrams=${r.getLong(1)} novel=${r.getLong(2)} " +
              f"lost=${r.getLong(3)} novelty_rate=${r.getDouble(4)}%.4f " +
              f"lost_rate=${r.getDouble(5)}%.4f")
        }
      }
      // --token-drift [K]: the distribution-level drift signal —
      // top-K token movers by smoothed-probability delta
      f.get("token-drift").foreach { kk =>
        val k = if (kk == "true") 20 else kk.toInt
        val movers = graft.ops.TextAnalysis.tokenDrift(
          readCorpus(spark, oldPath, f.get("input-format")),
          readCorpus(spark, input, f.get("input-format")), textCol, k)
          .collect()
        println(s"top ${movers.length} token movers (|delta_p| desc):")
        movers.foreach { r =>
          println(f"  ${r.getAs[Double]("delta_p")}%+.9f  " +
            f"old=${r.getAs[Long]("old_cnt")}%7d new=${r.getAs[Long]("new_cnt")}%7d  " +
            r.getString(0))
        }
      }
      return 0
    }
    // --top-ngrams K: append the frequent-phrase discovery table
    // (boilerplate/template hunt) after the profile
    def printTopNgrams(): Unit = f.get("top-ngrams").foreach { kk =>
      val idc = f.get("id-col") // optional: exact doc counts over an id
      val t = graft.ops.TextAnalysis.topNgrams(
          readCorpus(spark, input, f.get("input-format")),
          n = f.getOrElse("ngram-n", "3").toInt, k = kk.toInt,
          textCol = textCol, idCol = idc)
        .collect()
      println(s"top ${t.length} ngrams (n=${f.getOrElse("ngram-n", "3")}):")
      t.foreach { r =>
        println(f"  ${r.getLong(1)}%8d occ  ${r.getLong(2)}%8d docs  ${r.getString(0)}")
      }
    }
    val rows = (approxK match {
      case Some(k) => graft.ops.TextAnalysis.corpusProfileApprox(
        readCorpus(spark, input, f.get("input-format")),
        groupCol, textCol, tokens, k,
        hasher = graft.functions.KmvSketch.hash52Fast)
      case None => graft.ops.TextAnalysis.corpusProfile(
        readCorpus(spark, input, f.get("input-format")),
        groupCol, textCol, tokens)
    }).orderBy(col("is_total"), col(groupCol))
      .collect()
    def uniqOf(r: org.apache.spark.sql.Row): String = approxK match {
      case Some(_) => f"~${r.getAs[Double]("n_unique_texts_approx")}%.0f"
      case None    => r.getAs[Long]("n_unique_texts").toString
    }
    val header = Seq(groupCol, "docs", "uniq_texts", "tokens", "chars",
      "min_tok", "max_tok", "avg_tok")
    val table = rows.map { r =>
      Seq(if (r.getAs[Int]("is_total") == 1) "TOTAL" else String.valueOf(r.get(0)),
        r.getAs[Long]("n_docs").toString, uniqOf(r),
        r.getAs[Long]("n_tokens").toString, r.getAs[Long]("n_chars").toString,
        r.getAs[Long]("min_doc_tokens").toString, r.getAs[Long]("max_doc_tokens").toString,
        f"${r.getAs[Double]("avg_doc_tokens")}%.1f")
    }
    val widths = (header +: table.toSeq).transpose.map(_.map(_.length).max)
    (header +: table.toSeq).foreach { cells =>
      println(cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }.mkString("  "))
    }
    f.get("json").foreach { jp =>
      val json = graft.util.Jsons.value(rows.toSeq.map { r =>
        graft.util.Jsons.Raw(graft.util.Jsons.obj(
          groupCol -> (if (r.getAs[Int]("is_total") == 1) null
            else String.valueOf(r.get(0))),
          "is_total" -> r.getAs[Int]("is_total"),
          "n_docs" -> r.getAs[Long]("n_docs"),
          (approxK match {
            case Some(_) =>
              "n_unique_texts_approx" -> (r.getAs[Double]("n_unique_texts_approx"): Any)
            case None =>
              "n_unique_texts" -> (r.getAs[Long]("n_unique_texts"): Any)
          }),
          "n_tokens" -> r.getAs[Long]("n_tokens"),
          "n_chars" -> r.getAs[Long]("n_chars"),
          "min_doc_tokens" -> r.getAs[Long]("min_doc_tokens"),
          "max_doc_tokens" -> r.getAs[Long]("max_doc_tokens"),
          "avg_doc_tokens" -> r.getAs[Double]("avg_doc_tokens")))
      })
      Files.writeString(Paths.get(jp), json + "\n")
      println(s"json=$jp")
    }
    printTopNgrams()
    // --zipf [K]: rank-frequency power-law fit over the top-K tokens
    // — the one-line corpus-health gate (natural text: slope near -1
    // with high R2; template-stuffed corpora bend away from it)
    f.get("zipf").foreach { kk =>
      val k = if (kk == "true") 100 else kk.toInt
      val r = graft.ops.TextAnalysis.zipfStats(
        readCorpus(spark, input, f.get("input-format")), textCol, k).head()
      println(f"zipf k=$k vocab=${r.getLong(0)} tokens=${r.getLong(1)} " +
        (if (r.isNullAt(2)) "slope=- intercept=- r2=- (empty corpus)"
         else f"slope=${r.getDouble(2)}%.4f intercept=${r.getDouble(3)}%.4f " +
           f"r2=${r.getDouble(4)}%.4f"))
    }
    0
  }

  /** `graft shuffle`: deterministic training-order shuffle
    * ([[graft.ops.Sampling.shuffleDeterministic]] /
    * [[graft.ops.Sampling.globalOrderIndex]]); `--shards N` writes N
    * ordered parquet shards (shard k holds the k-th contiguous range
    * of the shuffled order — file layout a sequential trainer streams
    * in order). */
  private[graft] def cmdShuffle(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val spark = session()
    import graft.ops.Sampling
    val input = req(f, "input", "shuffle needs --input PATH (a parquet corpus)")
    val output = req(f, "output", "shuffle needs --output PATH")
    val idCol = f.getOrElse("id-col", "doc_id")
    val seed = f.getOrElse("seed", "42").toInt
    val df = readCorpus(spark, input, f.get("input-format"))
    // build the key (and, with --index, the global position) first;
    // the single range exchange below both orders and shards — no
    // redundant pre-sort
    val keyed =
      if (f.contains("index")) Sampling.globalOrderIndex(df, idCol, seed)
      else df.withColumn("shuffle_key", Sampling.shuffleKeyOf(col(idCol), seed))
    val out = f.get("shards") match {
      case Some(nStr) =>
        val nShards = nStr.toInt
        require(nShards >= 1, s"--shards wants >= 1, got $nShards")
        keyed.repartitionByRange(nShards, col("shuffle_key"), col(idCol))
          .sortWithinPartitions(col("shuffle_key").asc, col(idCol).asc)
      case None => keyed.orderBy(col("shuffle_key").asc, col(idCol).asc)
    }
    writeCorpus(out, output, f.get("output-format"))
    val n = readCorpus(spark, output, f.get("output-format")).count()
    println(s"shuffled=$n written=$output" +
      f.get("shards").map(s => s" shards=$s").getOrElse(""))
    0
  }

  /** `graft export`: the train-ready sharded export — deterministic
    * shuffle + contiguous global index ([[graft.ops.Sampling
    * .globalOrderIndex]]) + contiguous shard assignment ([[graft.ops
    * .Sampling.shardByOrder]]), written as `shard=K/` partition dirs
    * (each internally in training order) with a `_manifest.json` of
    * per-shard row counts and index ranges. Shard membership and
    * within-shard order are pure functions of (seed, key), so
    * re-running the export reproduces identical shards; the
    * underscore-prefixed manifest is invisible to parquet readers.
    * Keys default to `doc_id` (a curated corpus) or
    * `pack_group,pack_id,seq_idx` (`pack --ids` sequence output). */
  private[graft] def cmdExport(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val spark = session()
    import graft.ops.Sampling
    val input = req(f, "input", "export needs --input PATH (a parquet corpus)")
    val output = req(f, "output", "export needs --output DIR")
    // parquet shard dirs (columnar, keeps types) or jsonl shard dirs
    // (one JSON object per line — what most trainer data loaders
    // ingest directly); anything else fails fast
    val outputFormat = f.getOrElse("output-format", "parquet") match {
      case "json" | "jsonl" => "jsonl"
      case "parquet"        => "parquet"
      case other => throw graft.errors.Errors.config(
        s"export writes parquet or jsonl shard directories, not $other.",
        "use --output-format parquet|jsonl")
    }
    val nShards = f.getOrElse("shards", "16").toInt
    val seed = f.getOrElse("seed", "42").toInt
    val df = readCorpus(spark, input, f.get("input-format"))
    val keyCols = f.get("key-cols").map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse {
        if (df.columns.contains("doc_id")) Seq("doc_id")
        else if (Seq("pack_group", "pack_id", "seq_idx").forall(df.columns.contains))
          Seq("pack_group", "pack_id", "seq_idx")
        else throw graft.errors.Errors.config(
          "export can't infer a unique row key " +
            s"(columns: ${df.columns.mkString(", ")}).",
          "pass --key-cols c1[,c2,...] naming a unique key")
      }
    keyCols.filterNot(df.columns.contains) match {
      case Nil => ()
      case missing => throw graft.errors.Errors.config(
        s"--key-cols ${missing.mkString(", ")} not in the input " +
          s"(columns: ${df.columns.mkString(", ")}).", "fix --key-cols")
    }
    // composite keys collapse to ONE order column; the \\u0001
    // separator keeps ("a","bc")/("ab","c")-style composites distinct,
    // each component is marker-prefixed ("v" value / "n" null)
    // because concat_ws SKIPS nulls — (x, null, y) and (x, y, null)
    // would otherwise collide into one key and make their shard
    // assignment run-order-dependent — and any \\u0001/\\u0002 INSIDE a
    // value is \\u0002-escaped, so a value that happens to CONTAIN the
    // separator cannot make two distinct composites collide either
    val esc = (c: org.apache.spark.sql.Column) =>
      regexp_replace(regexp_replace(c, "\u0002", "\u0002\u0002"),
        "\u0001", "\u0002\u0001")
    val (keyed, idCol) =
      if (keyCols.size == 1) (df, keyCols.head)
      else (df.withColumn("__export_key",
        concat_ws("\u0001", keyCols.map(c =>
          coalesce(concat(lit("v"), esc(col(c).cast("string"))), lit("n"))): _*)),
        "__export_key")
    // shardByOrder already drops its internal shuffle key; only the
    // synthesized composite column is ours to clean up
    val sharded = Sampling.shardByOrder(keyed, idCol, nShards, seed)
      .drop((if (keyCols.size == 1) Seq.empty[String] else Seq(idCol)): _*)
    outputFormat match {
      case "parquet" =>
        sharded
          .repartitionByRange(nShards, col("global_idx"))
          .sortWithinPartitions(col("global_idx"))
          .write.mode("overwrite").partitionBy("shard").parquet(output)
      case _ =>
        // jsonl: one text file per shard, rows in global order. Range-
        // partitioning on the shard value puts each shard's rows in
        // exactly ONE task (equal keys never split across ranges), so
        // the partitionBy(shard) text write emits a single part file
        // per shard — a re-run reproduces every shard byte-for-byte.
        // Nulls are written explicitly so the line schema is stable
        // across shards whose column happens to be all-null.
        val line = to_json(
          struct(sharded.columns.filter(_ != "shard").map(col).toIndexedSeq: _*),
          java.util.Collections.singletonMap("ignoreNullFields", "false"))
        sharded
          .repartitionByRange(nShards, col("shard"))
          .sortWithinPartitions(col("shard"), col("global_idx"))
          .select(col("shard"), line.as("value"))
          .write.mode("overwrite").partitionBy("shard").text(output)
    }
    // manifest from what actually landed on disk (counts the written
    // data, not the plan)
    val written =
      if (outputFormat == "parquet") spark.read.parquet(output)
      else spark.read.json(output)
    val stats = written
      .groupBy("shard").agg(count(lit(1)).as("rows"),
        min("global_idx").as("first_idx"), max("global_idx").as("last_idx"))
      .orderBy("shard").collect()
    val total = stats.map(_.getAs[Long]("rows")).sum
    // "shards" = dirs actually written (fewer than requested when the
    // input has fewer rows); a trainer iterating manifest shards must
    // not hit missing directories
    val manifest = graft.util.Jsons.obj(
      "rows" -> total, "shards" -> stats.length,
      "shards_requested" -> nShards, "seed" -> seed,
      "format" -> outputFormat,
      "key_cols" -> keyCols,
      "shard_rows" -> graft.util.Jsons.Raw(graft.util.Jsons.arr(
        stats.toSeq.map(r => graft.util.Jsons.Raw(graft.util.Jsons.obj(
          "shard" -> r.getAs[Int]("shard"),
          "rows" -> r.getAs[Long]("rows"),
          "first_idx" -> r.getAs[Long]("first_idx"),
          "last_idx" -> r.getAs[Long]("last_idx")))))))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(output, "_manifest.json"), manifest)
    println(s"exported=$total shards=${stats.length} written=$output")
    0
  }

  /** `graft tokenizer`: train a byte-level BPE vocab on a corpus
    * ([[graft.ops.Tokenizer.train]] — one frequency aggregate + the
    * driver merge loop) or encode a corpus with a saved vocab
    * (scan-side kernel; `--count-only` stamps exact token counts
    * without materializing the id arrays). */
  /** `graft index`: the ANN index family from the command line —
    * build/append/search a persisted IVF index whose lists hold
    * vectors, or (`--pq M,K` at build time) residual PQ codes. Every
    * mode after the build reads the layout from the directory; only
    * PQ rebuilds, PQ exact baselines and `--refine` need the true
    * vectors from `--corpus`. */
  private[graft] def cmdIndex(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val spark = session()
    import graft.ops.Similarity
    val idCol = f.getOrElse("id-col", "vec_id")
    val vecCol = f.getOrElse("vec-col", "embedding")
    // `--pq M,K` (subspaces, codebook size), parsed in one place
    def pqShape(hint: String): Option[(Int, Int)] = f.get("pq").map { mk =>
      val parts = mk.split(",").map(_.trim)
      if (parts.length != 2 || parts.exists(p => scala.util.Try(p.toInt).isFailure))
        throw Errors.config(
          s"--pq wants M,K (subspaces, codebook size), got '$mk'.", hint)
      (parts(0).toInt, parts(1).toInt)
    }
    def kind(pq: Boolean): String = if (pq) "ivfpq" else "ivf"
    // " m=… codebook=…" for a PQ shape, nothing for a vector index
    def pqDesc(pq: Option[(Int, Int)]): String =
      pq.fold("") { case (m, k) => s" m=$m codebook=$k" }
    val modes = Seq("build", "append", "search", "describe", "compact", "rebuild")
      .filter(f.contains)
    if (modes.size != 1) throw graft.errors.Errors.config(
      s"index needs exactly one of --build/--append/--search/--describe/" +
        s"--compact/--rebuild" +
        (if (modes.isEmpty) "." else s", got --${modes.mkString(" --")}."),
      "pick one mode")
    lazy val nlist = f.getOrElse("nlist", "64").toInt
    lazy val refine = f.getOrElse("refine-iters", "0").toInt
    def build(corpus: org.apache.spark.sql.DataFrame, pq: Option[(Int, Int)]) =
      pq.fold(Similarity.buildIvfIndex(corpus, idCol, vecCol, nlist, refine)) {
        case (m, k) => Similarity.buildIvfPqIndex(corpus, idCol, vecCol, nlist, m, k,
          refine, f.getOrElse("pq-refine-iters", "0").toInt)
      }
    modes.head match {
      case "build" =>
        val input = req(f, "input", "index --build needs --input PATH (an embedding corpus)")
        val out = req(f, "output", "index --build needs --output DIR")
        val df = readCorpus(spark, input, f.get("input-format"))
        val pq = pqShape("e.g. --pq 8,256")
        Similarity.saveIvfIndex(build(df, pq), out)
        println(s"index=${kind(pq.isDefined)} nlist=$nlist${pqDesc(pq)} written=$out")
      case "compact" =>
        val idxDir = req(f, "index", "index --compact needs --index DIR")
        Similarity.compactIndex(spark, idxDir)
        println(s"compacted=$idxDir")
      case "rebuild" =>
        // the answer to --describe's skew report: re-cluster with FRESH
        // centroids into a NEW directory (readers cut over when it's
        // complete — the same rewrite-to-new-path shape the compact
        // fail-fast advises for rename-less stores, here by design:
        // a rebuild changes every list assignment, so an in-place swap
        // would buy crash complexity for no read-path win)
        val idxDir = req(f, "index", "index --rebuild needs --index DIR")
        val newDir = req(f, "output",
          "index --rebuild needs --output NEWDIR (readers cut over after)")
        val prior = Similarity.loadIvfIndex(spark, idxDir)
        val (vectors, pq) = prior.pq match {
          case Some(p) =>
            // codes carry no vectors (the whole point of PQ) — a rebuild
            // re-encodes from the true vectors, at the prior shape unless
            // --pq says otherwise
            (readCorpus(spark, req(f, "corpus",
              "--rebuild of an IVF-PQ index needs --corpus PATH (codes carry " +
                "no vectors to re-cluster from)"), f.get("aux-format")),
              Some(pqShape("e.g. --pq 8,256 (defaults to the existing index's shape)")
                .getOrElse((p.m, p.codebookSize))))
          case None =>
            // a vector index holds its true vectors — rebuild directly
            // from the lists, no corpus read needed
            (prior.lists.select(col("neighbor_id").as(idCol), col("vec").as(vecCol)), None)
        }
        Similarity.saveIvfIndex(build(vectors, pq), newDir)
        println(s"rebuilt=${kind(pq.isDefined)} nlist=$nlist${pqDesc(pq)} " +
          s"from=$idxDir written=$newDir")
      case "describe" =>
        // ops-facing health view: layout kind, parameters, and the
        // per-list row distribution (list SKEW is what tells an
        // operator an index needs a rebuild — appends assign to
        // stale centroids and the hot lists grow)
        val idxDir = req(f, "index", "index --describe needs --index DIR")
        val idx = Similarity.loadIvfIndex(spark, idxDir)
        println(idx.pq.fold("index=ivf")(p =>
          s"index=ivfpq m=${p.m} dsub=${p.dsub} codebook=${p.codebookSize}"))
        val counts = idx.lists.groupBy("list_id").count().orderBy("list_id").collect()
          .map(r => r.get(0) -> r.getLong(1))
        val ns = counts.map(_._2)
        val total = ns.sum
        println(s"kind=${kind(idx.pq.isDefined)} lists=${counts.length} rows=$total " +
          s"min_list=${if (ns.isEmpty) 0 else ns.min} " +
          s"max_list=${if (ns.isEmpty) 0 else ns.max} " +
          s"avg_list=${if (ns.isEmpty) 0 else total / ns.length}")
        counts.foreach { case (l, n) => println(s"  list_id=$l rows=$n") }
      case "append" =>
        val input = req(f, "input", "index --append needs --input PATH (the new vector batch)")
        val idxDir = req(f, "index", "index --append needs --index DIR")
        val df = readCorpus(spark, input, f.get("input-format"))
        val idx = Similarity.appendIvfIndex(spark, idxDir, df, idCol, vecCol)
        println(s"index=${kind(idx.pq.isDefined)} appended_from=$input index_dir=$idxDir")
      case _ =>
        val qPath = req(f, "queries", "index --search needs --queries PATH")
        val idxDir = req(f, "index", "index --search needs --index DIR")
        val out = req(f, "output", "index --search needs --output PATH")
        val queries = readCorpus(spark, qPath, f.get("input-format"))
        val k = f.getOrElse("k", "10").toInt
        val idx = Similarity.loadIvfIndex(spark, idxDir)
        // a vector index holds the true vectors and ranks exact
        // cosines already — silently ignoring --refine would let a
        // user believe a rerank ran (same fail-fast rule the
        // export format check follows)
        if (idx.pq.isEmpty) f.get("refine").foreach(_ => throw Errors.config(
          "--refine applies to IVF-PQ indexes (ADC shortlist + exact rerank); " +
            s"$idxDir is a plain IVF index whose probe scores exact cosines.",
          "drop --refine (or rebuild the index with --pq M,K)"))
        def corpusFor(why: String) =
          readCorpus(spark, req(f, "corpus", why), f.get("aux-format"))
        // the ONE search the command runs — tuning and the final write
        // go through the same path, so what gets measured is what ships
        def runSearch(q: org.apache.spark.sql.DataFrame, np: Int) =
          f.get("refine") match {
            case Some(cand) =>
              // exact rerank needs the true vectors — the codes
              // deliberately don't carry them
              Similarity.ivfPqTopKRefined(q, corpusFor(
                  "--refine needs --corpus PATH (the true vectors to rerank with)"),
                idx, idCol, idCol, vecCol, k, np,
                if (cand == "true") 0 else cand.toInt)
            case None =>
              Similarity.ivfTopKIndexed(q, idx, idCol, vecCol, k, np)
          }
        // deterministic md5-ordered sample — replayable across runs, so
        // recall numbers stay comparable as the search parameters move
        def sampleIdsOf(n: Int) = queries.select(col(idCol))
          .orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(n)
        // exact baseline over the TRUE vectors: a vector index carries
        // them in its lists; IVF-PQ codes deliberately don't, so the
        // rerank corpus supplies them
        def truthCorpus(why: String) =
          if (idx.pq.isDefined) corpusFor(why)
          else idx.lists.select(col("neighbor_id").as(idCol), col("vec").as(vecCol))
        // --target-recall T: autotune nprobe BEFORE the full search —
        // doubling sweep over the sampled queries against the exact
        // baseline, stopping at the first nprobe whose mean recall@k
        // reaches T (or at nprobe = nlist, recall's ceiling for this
        // index: past that only PQ distortion remains). The tuning
        // every ANN deployment otherwise runs by hand.
        // validated ONCE for both the plain path and the tuning seed:
        // nprobe <= 0 has no meaning (probe no lists), and as the sweep
        // seed it would loop forever (0 * 2 == 0 never reaches nlist)
        def nprobeFlag(): Option[Int] = f.get("nprobe").map { s =>
          val v = s.toInt
          if (v < 1) throw Errors.config(
            s"--nprobe wants a value >= 1 (lists probed per query), got '$s'.",
            "e.g. --nprobe 8")
          v
        }
        // resolution order: explicit --nprobe wins; else a previously
        // autotuned default persisted in the index meta; else 8. The
        // meta is written by --target-recall below, so the sweep is
        // paid once per index, not once per caller.
        val metaNprobe = Similarity.readIndexMeta(spark, idxDir)
          .get("default_nprobe")
          .flatMap(v => scala.util.Try(v.toInt).toOption)
          .filter(_ >= 1)
        val nprobe = f.get("target-recall") match {
          case None =>
            nprobeFlag().orElse {
              metaNprobe.foreach(np => println(
                s"nprobe=$np from index meta (autotuned; override with --nprobe)"))
              metaNprobe
            }.getOrElse(8)
          case Some(tStr) =>
            val target = tStr.toDouble
            if (target <= 0.0 || target > 1.0) throw Errors.config(
              s"--target-recall wants a value in (0, 1], got '$tStr'.",
              "e.g. --target-recall 0.9")
            val sampleN = f.getOrElse("recall-sample", "50").toInt
            val ids = sampleIdsOf(sampleN)
            val sampleQ = queries.join(broadcast(ids), Seq(idCol))
            val exact = Similarity.bruteForceTopK(sampleQ, truthCorpus(
                "--target-recall on an IVF-PQ index needs --corpus PATH " +
                  "(the true vectors for the exact baseline)"),
              idCol, idCol, vecCol, k).cache()
            val nLists = idx.centroids.count().toInt
            var np = nprobeFlag().getOrElse(1)
            var chosen = np
            var done = false
            while (!done) {
              val rec = Similarity.recallAtK(runSearch(sampleQ, np), exact)
                .agg(avg(col("recall"))).head()
              val mean = if (rec.isNullAt(0)) 0.0 else rec.getDouble(0)
              println(f"tune nprobe=$np mean_recall=$mean%.4f")
              chosen = np
              if (mean >= target) done = true
              else if (np >= nLists) {
                println(f"target_recall=$target%.4f unreachable at " +
                  s"nprobe=nlist=$nLists — residual loss is quantization " +
                  "distortion; add --refine (IVF-PQ) or rebuild with more lists")
                done = true
              } else np = math.min(nLists, np * 2)
            }
            exact.unpersist()
            // persist the tuning so the NEXT --search of this index
            // defaults to it (explicit --nprobe still wins) — without
            // this every caller re-pays the sweep or reverts to the
            // blind default
            Similarity.updateIndexMeta(spark, idxDir,
              Map("default_nprobe" -> chosen.toString))
            println(s"tuned nprobe=$chosen persisted to index meta " +
              "(future --search of this index defaults to it)")
            chosen
        }
        val res = runSearch(queries, nprobe)
        writeCorpus(res, out, f.get("output-format"))
        val n = readCorpus(spark, out, f.get("output-format")).count()
        println(s"results=$n k=$k nprobe=$nprobe written=$out")
        // --recall-sample N (without --target-recall): measure what the
        // WRITTEN result delivers on a sampled exact baseline.
        // Ground truth via bruteForceTopK costs |sample| x |corpus|
        // scan-side dots — size the sample, not the corpus.
        if (!f.contains("target-recall")) f.get("recall-sample").foreach { nStr =>
          val sampleN = nStr.toInt
          if (sampleN < 1) throw Errors.config(
            s"--recall-sample wants a positive sample size, got '$nStr'.",
            "e.g. --recall-sample 100")
          val sampleIds = sampleIdsOf(sampleN)
          val exact = Similarity.bruteForceTopK(
            queries.join(broadcast(sampleIds), Seq(idCol)),
            truthCorpus("--recall-sample on an IVF-PQ index needs --corpus " +
              "PATH (the true vectors for the exact baseline)"),
            idCol, idCol, vecCol, k)
          // the approx side is the WRITTEN result filtered to the
          // sample — recall measures what the search actually delivered
          val approx = readCorpus(spark, out, f.get("output-format"))
            .join(broadcast(sampleIds.withColumnRenamed(idCol, "query_id")),
              Seq("query_id"))
          val rec = Similarity.recallAtK(approx, exact)
            .agg(avg(col("recall")).as("mean_recall"),
              min(col("recall")).as("min_recall"),
              count(lit(1)).as("n_queries")).head()
          if (rec.getLong(2) == 0L)
            println(s"recall_sample=0 k=$k (no ground-truth rows — " +
              "is the sample empty, or the baseline corpus?)")
          else println(f"recall_sample=${rec.getLong(2)} k=$k " +
            f"mean_recall=${rec.getDouble(0)}%.4f " +
            f"min_recall=${rec.getDouble(1)}%.4f")
        }
    }
    0
  }

  /** `graft stream`: INCREMENTAL corpus ingest — the recurring-drop
    * pattern as one command. The input directory is consumed as a
    * file stream with `Trigger.AvailableNow` (drain everything
    * present, then exit) through the streaming hygiene gate and/or
    * streaming exact dedup, and appended EXACTLY-ONCE to the parquet
    * output; source offsets live under `--checkpoint`, so re-running
    * the same command processes only files that arrived since the
    * last run — no reprocessing, no duplicate output rows, no
    * bookkeeping script. The gate is the same codegen'd verdict
    * kernel batch curation runs (verdicts bit-identical to `curate`'s
    * for the same text); exact dedup holds state only within the
    * event-time watermark — Spark bounds streaming state by time, so
    * cross-run duplicates separated by more than the watermark pass
    * (use the batch `incrementalDedup` store for an unbounded
    * horizon). */
  /** Drain one streaming frame to a parquet sink with
    * `Trigger.AvailableNow` and report the rows it ACTUALLY appended —
    * via an `observe` aggregate read from the query's progress, O(new
    * batch): the previous implementation counted the WHOLE output
    * dataset before and after every drain (an O(total-output) metadata
    * job per log line on a long-lived ingest dir) and swallowed every
    * read error to 0. Source numInputRows would still be wrong here —
    * the dedup plan self-unions the source for its null-text
    * passthrough leg, doubling it; the file sink reports no
    * numOutputRows. */
  private def drainTo(df: org.apache.spark.sql.DataFrame, path: String,
      chk: String, metric: String): (Long, Int) = {
    val q = df.observe(metric, count(lit(1)).as("rows"))
      .writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val progs = q.recentProgress.toSeq
    val appended = progs
      .flatMap(p => Option(p.observedMetrics.get(metric)))
      .map(_.getLong(0)).sum
    (appended, progs.length)
  }

  private[graft] def cmdStream(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val spark = session()
    // the appended counts are summed from recentProgress — raise its
    // retention cap (default 100) so a huge backlog drain can't drop
    // early batches from the report
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    // Stateful legs (--exact-dedup dropDuplicates state, --near-dup
    // per-(band,bucket) member signatures) default to the RocksDB
    // state store: the default HDFS-backed provider keeps EVERY key of
    // every loaded state partition on the executor HEAP, so a big
    // ingest with a long --near-dup-retention OOMs the executors
    // holding hot buckets; RocksDB spills the working set to local
    // disk behind a block cache and scales state past memory.
    // --state-store hdfs restores the old provider — REQUIRED when
    // resuming a checkpoint whose state was written under it (the two
    // on-disk state formats are incompatible mid-stream; offsets
    // survive, state does not).
    val provider = f.getOrElse("state-store", "rocksdb") match {
      case "rocksdb" => "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider"
      case "hdfs" => "org.apache.spark.sql.execution.streaming.state." +
        "HDFSBackedStateStoreProvider"
      case other => throw Errors.config(
        s"unknown --state-store '$other'.",
        "use rocksdb (the scale default) or hdfs (pre-r16 checkpoints)")
    }
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    val input = req(f, "input",
      "stream needs --input DIR (a growing parquet/jsonl directory)")
    val output = req(f, "output",
      "stream needs --output DIR (parquet, appended exactly-once)")
    val chk = req(f, "checkpoint",
      "stream needs --checkpoint DIR (offset tracking — reruns drain only NEW files)")
    val textCol = f.getOrElse("text-col", "text")
    val gateOn = Seq("c4", "gopher", "repetition", "min-quality", "languages")
      .exists(f.contains)
    val dedupOn = f.contains("exact-dedup")
    val nearDupOn = f.contains("near-dup")
    if (!gateOn && !dedupOn && !nearDupOn) throw Errors.config(
      "stream has nothing to do: no gate flags, no --exact-dedup, no --near-dup.",
      "add --c4/--gopher/--repetition/--min-quality/--languages, " +
        "--exact-dedup --event-time-col COL, and/or --near-dup " +
        "--near-dup-out DIR --event-time-col COL")
    if (f.contains("rejects") && !gateOn) throw Errors.config(
      "--rejects routes gate FAILURES to a side sink, but no gate flags are set.",
      "add --c4/--gopher/--repetition/--min-quality/--languages")
    // streaming sources need a schema up front: pin it from a batch
    // read of what is in the directory now (same inference curate uses)
    val schema = readCorpus(spark, input, f.get("input-format")).schema
    val rawSrc = f.get("input-format").getOrElse(inferFormat(input)) match {
      case "parquet" => spark.readStream.schema(schema).parquet(input)
      case _         => spark.readStream.schema(schema).json(input)
    }
    // --fix-mojibake [PASSES]: repair CP1252 mis-decoding BEFORE the
    // gate (same rationale as curate: transport damage is not a
    // quality signal, and unrepaired artifacts depress gate scores).
    // A stateless projection — it fuses into each micro-batch's scan
    // and flows into every leg (gate, rejects, dedup, near-dup).
    val src = f.get("fix-mojibake")
      .map(v => if (v == "true") 1 else v.toInt)
      .filter(_ > 0)
      .map(p => rawSrc.withColumn(textCol,
        graft.functions.Mojibake.fix(col(textCol), p)))
      .getOrElse(rawSrc)
    val languages = f.get("languages") match {
      case Some("none") => Nil
      case Some(ls)     => ls.split(",").toSeq
      case None         => Seq("en")
    }
    def gate(passedOnly: Boolean): org.apache.spark.sql.DataFrame =
      if (gateOn) graft.streaming.StreamingPit.streamingQualityGate(
        src, textCol,
        c4 = if (f.contains("c4")) Some((3, 5)) else None,
        gopher = if (f.contains("gopher"))
          Some(graft.ops.QualityFilters.GopherConfig()) else None,
        repetition = if (f.contains("repetition"))
          Some(graft.ops.QualityFilters.RepetitionConfig()) else None,
        minQuality = f.getOrElse("min-quality", "0.3").toDouble,
        languages = languages,
        passedOnly = passedOnly)
      else src
    val gated = gate(passedOnly = !f.contains("keep-verdicts"))
    val out =
      if (dedupOn) graft.streaming.StreamingPit.streamingExactDedup(
        gated, textCol,
        eventTimeCol = req(f, "event-time-col",
          "--exact-dedup needs --event-time-col COL (an event-time " +
            "timestamp — dedup state is watermark-bounded)"),
        watermark = f.getOrElse("watermark", "1 hour"))
      else gated
    val (appended, batches) = drainTo(out, output, chk, "graft_out")
    var report = s"appended=$appended batches=$batches output=$output"
    // --rejects DIR: the dead-letter leg — gate FAILURES land in a
    // side sink WITH their verdict codes (hygiene_verdict != 0 names
    // the failed rule), so a production ingest can quarantine and
    // audit what it dropped instead of silently losing it. A separate
    // checkpointed query over the same source: each sink stays
    // exactly-once on reruns (a shared foreachBatch would be
    // at-least-once on one leg after a mid-batch crash).
    f.get("rejects").foreach { rejDir =>
      val failed = gate(passedOnly = false).filter(
        col("hygiene_verdict") =!= graft.functions.Hygiene.PassVerdict)
      val (nRej, _) = drainTo(failed, rejDir, s"$chk/rejects", "graft_rejects")
      report += s" rejected=$nRej rejects_dir=$rejDir"
    }
    // --near-dup: the MinHash/LSH ingest monitor — each gate-passing
    // document is checked against the prior members of its LSH buckets
    // (state bounded by the event-time watermark + retention), hits
    // land in --near-dup-out with the colliding band, the estimated
    // Jaccard and the prior doc id. A monitor, not a filter: batch
    // near-dup dedup stays the authority for removal; this flags
    // cross-drop duplication AT INGEST, when quarantining is cheap.
    if (nearDupOn) {
      val ndOut = req(f, "near-dup-out",
        "--near-dup needs --near-dup-out DIR (the hit sink)")
      val hits = graft.streaming.StreamingPit.streamingNearDupHits(
        gate(passedOnly = true),
        idCol = f.getOrElse("id-col", "doc_id"),
        textCol = textCol,
        eventTimeCol = req(f, "event-time-col",
          "--near-dup needs --event-time-col COL (an event-time " +
            "timestamp — bucket state is watermark-bounded)"),
        k = f.getOrElse("minhash-k", "16").toInt,
        bands = f.getOrElse("bands", "4").toInt,
        n = f.getOrElse("ngram-n", "3").toInt,
        threshold = f.getOrElse("near-dup-threshold", "0.5").toDouble,
        watermark = f.getOrElse("watermark", "1 hour"),
        retention = graft.util.Durations.parse(
          f.getOrElse("near-dup-retention", "1h")),
        maxBucket = f.getOrElse("max-bucket", "1000").toInt)
      val (nHits, _) = drainTo(hits.toDF(), ndOut, s"$chk/neardup", "graft_neardup")
      report += s" neardup_hits=$nHits neardup_dir=$ndOut"
    }
    println(report + " (rerun with the same --checkpoint drains only newer files)")
    0
  }

  private[graft] def cmdTokenizer(args: Array[String]): Int = {
    val (f, _) = flags(args)
    val spark = session()
    import graft.ops.Tokenizer
    val input = req(f, "input", "tokenizer needs --input PATH (a parquet corpus)")
    val model = req(f, "model", "tokenizer needs --model DIR (vocab parquet)")
    val textCol = f.getOrElse("text-col", "text")
    val df = readCorpus(spark, input, f.get("input-format"))
    if (f.contains("train")) {
      val vocab = Tokenizer.train(df, textCol,
        vocabSize = f.getOrElse("vocab-size", "8192").toInt,
        maxWordTypes = f.getOrElse("max-word-types", "200000").toInt,
        specialTokens = f.get("specials").toSeq.flatMap(_.split(',').toSeq))
      Tokenizer.save(vocab, model, spark)
      println(s"vocab_size=${vocab.size} merges=${vocab.mergeLeft.length} " +
        s"specials=${vocab.specials.length} model=$model")
    } else {
      val output = req(f, "output",
        "tokenizer without --train encodes: needs --output PATH")
      val vocab = Tokenizer.load(spark, model)
      val out =
        if (f.contains("count-only"))
          df.withColumn("n_tokens", Tokenizer.tokenCount(col(textCol), vocab))
        else Tokenizer.tokenize(df, vocab, textCol)
      writeCorpus(out, output, f.get("output-format"))
      val n = readCorpus(spark, output, f.get("output-format")).count()
      println(s"encoded=$n vocab_size=${vocab.size} written=$output")
    }
    0
  }

  private def cmdInit(args: Array[String]): Int = {
    val (_, pos) = flags(args)
    val dir = Paths.get(pos.headOption.getOrElse("."))
    Files.createDirectories(dir)
    val cfgPath = dir.resolve("graft.yaml")
    if (Files.exists(cfgPath)) { System.err.println(s"$cfgPath already exists"); return 1 }
    Files.writeString(cfgPath,
      """# graft configuration
        |labels:
        |  path: labels.parquet
        |  keys: [user_id]
        |  label_time: label_time
        |  target: [churned]
        |features:
        |  - name: user_country
        |    source: users.parquet
        |    keys: [user_id]
        |    timestamp: updated_at
        |    columns: [country]
        |    embargo: 0
        |defaults:
        |  max_lookback: 365d
        |  join: strict
        |  on_missing: null
        |output:
        |  dir: ./out
        |store: .graft
        |""".stripMargin)
    println(s"wrote $cfgPath")
    0
  }
}
