package graft.dedup

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

/** BF-faithful dedup mode: reproduces the reference's Bloom-filter
  * semantics (/root/reference/src/bloom_filter.rs:15-98 — fixed bit array,
  * k seeded hashers, size-from-FP law at bloom_filter.rs:27-60) with
  * bounded memory. Where the reference shares one atomic bit array across
  * threads (bloom_filter.rs:214-235), Spark has no shared mutable state:
  * we build per-partition filters and OR-merge them on the driver
  * (`treeAggregate`-style via Spark's built-in mergeable BloomFilter),
  * then broadcast the result for read-only probing — the reference's
  * decontamination mode (docs/deduplication.md:36).
  *
  * Note the semantic difference from sequential probe-and-insert: a batch-
  * built filter contains ALL keys, so probing marks every member of a
  * duplicate cluster (including the first). For first-wins labeling use
  * [[Dedup.markDuplicates]]; use this for cross-corpus decontamination
  * where membership, not first-occurrence, is the question.
  */
object DistributedBloom {

  /** Build a filter over a key column (distributed, one pass, no shuffle:
    * partial filters are built map-side and OR-merged). */
  def build(keys: Dataset[String], expectedItems: Long, fpRate: Double): BloomFilter = {
    keys.rdd.treeAggregate(
      BloomFilter.create(expectedItems, fpRate))(
      seqOp = (bf, k) => { bf.putString(k); bf },
      combOp = (a, b) => { a.mergeInPlace(b); a })
  }

  /** Probe: returns ids whose key is (probably) in the filter. */
  def probe(spark: SparkSession, df: Dataset[(String, String)], bf: BloomFilter): Dataset[(String, Boolean)] = {
    import spark.implicits._
    val bcast = spark.sparkContext.broadcast(bf)
    df.map { case (id, key) => (id, bcast.value.mightContainString(key)) }
  }

  // ---- sharded mode ----------------------------------------------------
  // One broadcast filter stops scaling around 1e9 keys (2.4 GB at FP 1e-4
  // per the sizing law of bloom_filter.rs:27-60). Sharded mode
  // hash-partitions the key space into independent filters and CO-GROUPS
  // probes with their shard's filter: an executor only ever materializes
  // the filters of the shards it processes — memory per task is
  // corpus-size-independent, and the probe is one shuffle on the shard id.

  @inline def shardOf(key: String, shards: Int): Int =
    (key.hashCode & 0x7fffffff) % shards

  /** Build `shards` independent filters, each sized for its share of the
    * keys. Returns (shard, serialized filter) — a table small enough to
    * persist/reuse across decontamination runs. */
  def buildSharded(keys: Dataset[String], expectedItems: Long, fpRate: Double,
      shards: Int): Dataset[(Int, Array[Byte])] = {
    val spark = keys.sparkSession
    import spark.implicits._
    val perShard = math.max(64L, expectedItems / shards)
    // shuffle RAW keys to their shard's partition, then build each shard's
    // filter inside one task. Map-side combining (aggregateByKey) would
    // instantiate a full-size filter for EVERY shard each map task sees —
    // per-task memory = the whole m bits, exactly the blow-up sharding
    // exists to avoid; raw-key shuffle keeps per-task memory at one
    // shard's filter, corpus-size-independent as documented above.
    keys.rdd.map(k => (shardOf(k, shards), k))
      .partitionBy(new org.apache.spark.HashPartitioner(shards))
      .mapPartitions { it =>
        // Int.hashCode is the identity, so partition i holds exactly
        // shard i — the map is defensive, never >1 entry
        val filters = scala.collection.mutable.Map.empty[Int, BloomFilter]
        it.foreach { case (s, k) =>
          filters.getOrElseUpdate(s, BloomFilter.create(perShard, fpRate))
            .putString(k)
        }
        filters.iterator.map { case (s, bf) =>
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          (s, bos.toByteArray)
        }
      }.toDS()
  }

  // ---- persisted state (the reference's Bloom filter FILE) -------------
  // The reference persists its filter as a versioned binary file
  // (bloom_filter.rs:100-179: magic, seeds, bit array) and re-loads it on
  // the next run (read_only probing or probe-and-update). The analog here
  // is the sharded filter TABLE persisted as parquet under versioned
  // subdirectories (v<millis>-s<shards>): an update writes a NEW version
  // and never touches the one a concurrent reader is probing; the loader
  // picks the latest. State size is the filter itself (~2.4 GB per 1e9
  // keys at FP 1e-4) spread over `shards` rows — never driver-resident.

  /** Latest persisted state under `dir`, with its shard count (parsed
    * from the version name so probes route identically across runs even
    * if the caller's config changed). */
  def loadState(spark: SparkSession, dir: String): Option[(Dataset[(Int, Array[Byte])], Int)] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val Version = "v(\\d+)-s(\\d+)".r
    val versions = fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
      case n @ Version(ts, s) => (ts.toLong, s.toInt, n)
    }.filter { case (_, _, n) =>
      // only COMMITTED versions qualify: the directory exists from job
      // start, so a crashed or in-flight saveState would otherwise be
      // selected as "latest" and either fail the read or silently load a
      // partial shard table. Spark's committer drops _SUCCESS only after
      // the full commit.
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$n/_SUCCESS"))
    }
    versions.sortBy(_._1).lastOption.map { case (_, shards, name) =>
      (spark.read.parquet(s"$dir/$name").as[(Int, Array[Byte])], shards)
    }
  }

  /** Persist `state` as a new version under `dir` (crash-safe: a version
    * is only visible once its parquet commit succeeds). Nanotime in the
    * name keeps rapid successive runs from colliding.
    *
    * SINGLE-WRITER contract, same as the reference's Bloom FILE (two
    * `dolma dedupe` processes updating one file also last-write-win):
    * concurrent UPDATING runs each merge against the base they loaded, so
    * the earlier writer's keys are absent from the later version. Readers
    * (`read_only`) are always safe. Serialize updaters externally. */
  def saveState(state: Dataset[(Int, Array[Byte])], dir: String, shards: Int): String = {
    // wall-clock millis ordered first (comparable across JVMs/boots),
    // sub-millisecond nanos as a collision disambiguator
    val ts = System.currentTimeMillis() * 1000000L + (System.nanoTime() % 1000000L)
    val version = s"v$ts-s$shards"
    state.toDF("_1", "_2").write.mode("error").parquet(s"$dir/$version")
    version
  }

  /** OR-merge two sharded filter tables (same shard count and sizing).
    * One shuffle on the shard id; each task merges its shard's filters. */
  def mergeStates(a: Dataset[(Int, Array[Byte])],
      b: Dataset[(Int, Array[Byte])]): Dataset[(Int, Array[Byte])] = {
    val spark = a.sparkSession
    import spark.implicits._
    a.union(b).groupByKey(_._1).mapGroups { (shard, it) =>
      val filters = it.map(x =>
        BloomFilter.readFrom(new java.io.ByteArrayInputStream(x._2))).toList
      val merged =
        try filters.reduce { (x, y) => x.mergeInPlace(y); x }
        catch {
          case e: org.apache.spark.util.sketch.IncompatibleMergeException =>
            throw new IllegalStateException(
              "Bloom state versions are incompatible (estimated_doc_count / " +
                "desired_false_positive_rate changed between runs, so filter " +
                "sizes differ). Rebuild the state from scratch or restore the " +
                "original sizing parameters.", e)
        }
      val bos = new java.io.ByteArrayOutputStream()
      merged.writeTo(bos)
      (shard, bos.toByteArray)
    }
  }

  /** Probe (id, key) rows against a sharded filter table: both sides
    * shuffle once on the shard id; each task deserializes exactly its
    * shard's filter. */
  def probeSharded(df: Dataset[(String, String)],
      filters: Dataset[(Int, Array[Byte])], shards: Int): Dataset[(String, Boolean)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.map { case (id, key) => (shardOf(key, shards), id, key) }
      .groupByKey(_._1)
      .cogroup(filters.groupByKey(_._1)) { (_, rows, bfs) =>
        val bf = bfs.toSeq.headOption.map(b =>
          BloomFilter.readFrom(new java.io.ByteArrayInputStream(b._2)))
        rows.map { case (_, id, key) =>
          (id, bf.exists(_.mightContainString(key)))
        }
      }
  }
}
