package graft.maintain

import graft.SparkSpec
import graft.ingest.TokenGen
import graft.lineage.Lineage
import graft.table.{RowGroupCopy, TokenTable}
import org.apache.spark.sql.functions._

/** MERGE's row-group-level cold copy (VERDICT r3 task 2): for a
  * range-local update over multi-row-group files, only the row groups
  * intersecting hot segments are decoded; the rest carry over as a
  * bytewise column-chunk copy — and the table stays byte-exact.
  */
class RowGroupMergeSpec extends SparkSpec {
  import spark.implicits._

  private def withTinyRowGroups[A](f: => A): A = {
    spark.conf.set("graft.write.rowGroupBytes", (32 * 1024).toString)
    try f finally spark.conf.unset("graft.write.rowGroupBytes")
  }

  test("narrow merge decodes only hot row groups; cold groups byte-copy; results exact") {
    withTinyRowGroups {
      val dir = tmpDir("rg_merge")
      val t = TokenTable.create(spark, dir)
      // One doc_id-sorted partition -> one file with MANY row groups,
      // each a tight disjoint doc_id range.
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 6000, minLen = 32, maxLen = 64, numPartitions = 1)
        .repartition(1).sortWithinPartitions("doc_id")))
      val file = t.filesLocal(t.current)
      assert(file.size == 1)
      val conf = spark.sessionState.newHadoopConf()
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$dir/${file.head.path}"), conf))
      val nGroups = try footer.getFooter.getBlocks.size finally footer.close()
      assert(nGroups >= 4, s"need multi-group file to exercise cold copy, got $nGroups")

      val before = checksum(t.scan())
      val outside = checksum(t.scan()
        .filter($"doc_id" < f"doc_${3000}%012d" || $"doc_id" > f"doc_${3049}%012d"))

      // 50 consecutive keys in the middle: hot span is a tiny slice of
      // the file, so most row groups are provably cold.
      val src = t.scan()
        .filter($"doc_id" >= f"doc_${3000}%012d" && $"doc_id" <= f"doc_${3049}%012d")
        .select($"doc_id", array_repeat(lit(9), 4).as("tokens"),
          lit(4).as("n_tok"), $"source")
        .withColumn("__p", monotonically_increasing_id())
      val r = Merge.mergeInto(t, src, "__p", "rg-m1")

      assert(r.touchedFiles == 1 && r.sourceRows == 50)
      assert(r.coldCopiedBytes > 0, "cold row groups must byte-copy")
      assert(r.decodedBytes < r.touchedBytes / 2,
        s"rewrite must decode only hot groups: decoded ${r.decodedBytes} of ${r.touchedBytes}")

      // Byte-exactness: rows outside the range identical, inside updated.
      assert(checksum(t.scan()
        .filter($"doc_id" < f"doc_${3000}%012d" || $"doc_id" > f"doc_${3049}%012d")) == outside)
      val in = t.scan()
        .filter($"doc_id" >= f"doc_${3000}%012d" && $"doc_id" <= f"doc_${3049}%012d")
      assert(in.count() == 50 && in.filter($"n_tok" === 4).count() == 50)
      assert(checksum(t.scan()) != before, "update must be visible")

      // Lineage records every file the commit added — the cold copies
      // as well as the rewrite output — with their rows.
      val parentPaths = t.filesLocal(t.snapshotAt(r.snapshot.parentVersion))
        .map(_.path).toSet
      val added = t.filesLocal(r.snapshot).filterNot(f => parentPaths(f.path))
      val m = Lineage.metrics(spark, t, "rg-m1").head()
      assert(m.getAs[Long]("rows") == added.map(_.rows).sum,
        s"lineage rows ${m.getAs[Long]("rows")} vs added ${added.map(_.rows).sum}")
      assert(m.getAs[Int]("output_files") == added.size)
      val coldCopies = added.map(_.path).filter(_.contains(s"rg-m1-v${r.snapshot.parentVersion}-cold"))
      assert(coldCopies.nonEmpty, s"expected cold copies among ${added.map(_.path)}")
      val recorded = Lineage.taskRecords(t, "rg-m1").flatMap(_.outputFiles.map(_.path)).toSet
      assert(coldCopies.forall(recorded), "lineage output_files must include the cold copies")

      // Hot extracts are temporaries: gone after the merge commit.
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/data/rg-m1-v${r.snapshot.parentVersion}-hotx")))

      // GC: cold copies are reachable survivors; only superseded bytes go.
      val live = checksum(t.scan())
      val gc = Expire.run(t, retainLast = 1, graceMs = 0)
      assert(gc.deletedFiles > 0)
      assert(checksum(t.scan()) == live, "GC must not touch cold-copied survivors")
    }
  }

  test("two disjoint narrow ranges: both update, cold gaps stay prunable, decoded stays tight") {
    withTinyRowGroups {
      val dir = tmpDir("rg_two")
      val t = TokenTable.create(spark, dir)
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 6000, minLen = 32, maxLen = 64, numPartitions = 1)
        .repartition(1).sortWithinPartitions("doc_id")))
      def range(a: Int, b: Int) =
        $"doc_id" >= f"doc_$a%012d" && $"doc_id" <= f"doc_$b%012d"
      val outside = checksum(t.scan().filter(!range(1000, 1049) && !range(5000, 5049)))
      val src = t.scan().filter(range(1000, 1049) || range(5000, 5049))
        .select($"doc_id", array_repeat(lit(7), 3).as("tokens"),
          lit(3).as("n_tok"), $"source")
        .withColumn("__p", monotonically_increasing_id())
      val r1 = Merge.mergeInto(t, src, "__p", "rg2-m1")
      assert(r1.sourceRows == 100)
      assert(r1.decodedBytes < r1.touchedBytes / 4,
        s"two narrow extents must decode a small slice: ${r1.decodedBytes} of ${r1.touchedBytes}")
      assert(checksum(t.scan().filter(!range(1000, 1049) && !range(5000, 5049))) == outside)
      assert(t.scan().filter($"n_tok" === 3).count() == 100)
      // Repeat merge over the SAME two ranges: gap-partitioned cold
      // outputs must prune, so round 2 touches far fewer bytes.
      val src2 = t.scan().filter(range(1000, 1049) || range(5000, 5049))
        .select($"doc_id", array_repeat(lit(8), 3).as("tokens"),
          lit(3).as("n_tok"), $"source")
        .withColumn("__p", monotonically_increasing_id())
      val r2 = Merge.mergeInto(t, src2, "__p", "rg2-m2")
      assert(r2.touchedBytes < r1.touchedBytes / 2,
        s"repeat merge must touch fewer bytes: ${r2.touchedBytes} vs ${r1.touchedBytes}")
      assert(t.scan().count() == 6000)
    }
  }

  test("merge under coarsened endpoints (tiny boundsCap) stays byte-exact") {
    // Force the distributed every-k-th endpoint coarsening on a real
    // merge: with 16 files (32 endpoints) and a cap of 4, the segment
    // index is built from a strict subset of endpoints — pruning
    // over-approximates but the rewrite must produce the identical
    // post-merge state.
    val dir = tmpDir("coarse_merge")
    val t = TokenTable.create(spark, dir)
    (0 until 4).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 2000, idOffset = i * 2000L, minLen = 16, maxLen = 32,
        numPartitions = 4)))
    }
    Cluster.run(t, Cluster.ByDocId, "cm-cluster", targetBytes = 128L * 1024)
    def updates = t.scan()
      .filter($"doc_id" >= f"doc_${4000}%012d" && $"doc_id" <= f"doc_${4099}%012d")
      .select($"doc_id", array_repeat(lit(5), 2).as("tokens"),
        lit(2).as("n_tok"), $"source")
      .withColumn("__p", monotonically_increasing_id())
    spark.conf.set("graft.merge.boundsCap", "4")
    val r = try Merge.mergeInto(t, updates, "__p", "cm-m1")
      finally spark.conf.unset("graft.merge.boundsCap")
    assert(r.sourceRows == 100)
    assert(t.scan().count() == 8000)
    val in = t.scan()
      .filter($"doc_id" >= f"doc_${4000}%012d" && $"doc_id" <= f"doc_${4099}%012d")
    assert(in.count() == 100 && in.filter($"n_tok" === 2).count() == 100,
      "every updated row must carry the merge's tokens under coarse pruning")
    assert(t.scan().filter($"n_tok" === 2).count() == 100,
      "no row outside the update range may be replaced")
  }

  test("splitFile: fully-cold file is kept verbatim; fully-hot file skips the copy") {
    withTinyRowGroups {
      val dir = tmpDir("rg_split")
      val t = TokenTable.create(spark, dir)
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 2000, minLen = 32, maxLen = 64, numPartitions = 1)
        .repartition(1).sortWithinPartitions("doc_id")))
      val f = t.filesLocal(t.current).head
      val conf = spark.sessionState.newHadoopConf()
      val root = new org.apache.hadoop.fs.Path(dir).toUri.getPath

      // Source-key extent far above every doc_id in the file: all cold.
      val coldSplit = RowGroupCopy.splitFile(f.path, dir, root,
        "data/c", "data/h", extLo = Array("zzz_0"), extHi = Array("zzz_9"), conf = conf)
      assert(coldSplit.allCold && coldSplit.coldFiles.isEmpty && coldSplit.decodeRel.isEmpty)

      // Extent spanning the whole keyspace: all groups hot, decode
      // the ORIGINAL file, no copy written.
      val hotSplit = RowGroupCopy.splitFile(f.path, dir, root,
        "data/c", "data/h", extLo = Array(f.minDocId), extHi = Array(f.maxDocId),
        conf = conf)
      assert(!hotSplit.allCold && hotSplit.decodeRel.contains(f.path))
      assert(hotSplit.coldFiles.isEmpty && hotSplit.decodeBytes == f.bytes)

      // Mid-range extent: mixed — cold copy + hot extract, and the
      // two partitions' rows reassemble EXACTLY the original file.
      val lo = f"doc_${800}%012d"; val hi = f"doc_${820}%012d"
      val mixed = RowGroupCopy.splitFile(f.path, dir, root,
        "data/c", "data/h", extLo = Array(lo), extHi = Array(hi), conf = conf)
      assert(!mixed.allCold && mixed.coldFiles.nonEmpty && mixed.decodeRel.nonEmpty)
      // One cold file per contiguous cold run: a mid-range extent leaves
      // a below-run and an above-run, neither straddling the hot range.
      assert(mixed.coldFiles.size == 2, s"expected 2 cold runs, got ${mixed.coldFiles.size}")
      assert(mixed.coldFiles.forall(cf => cf.maxDocId < lo || cf.minDocId > hi),
        "no cold file may straddle the hot range")
      val reunion = spark.read.schema(t.schema)
        .parquet(mixed.coldFiles.map(cf => s"$dir/${cf.path}") :+
          s"$dir/${mixed.decodeRel.get}": _*)
      assert(checksum(reunion) == checksum(t.scan()),
        "cold copies + hot extract must reassemble the original rows exactly")
      // Each cold copy's manifest stats must be true bounds of its rows.
      mixed.coldFiles.foreach { cf =>
        val coldRows = spark.read.schema(t.schema).parquet(s"$dir/${cf.path}")
        val mm = coldRows.agg(min($"doc_id"), max($"doc_id"), count(lit(1)),
          sum($"n_tok".cast("long"))).head()
        assert(mm.getString(0) == cf.minDocId && mm.getString(1) == cf.maxDocId)
        assert(mm.getLong(2) == cf.rows && mm.getLong(3) == cf.sumNtok)
      }
    }
  }

  test("sort-merge and broadcast merge paths agree on a sparse two-cluster update") {
    // Two identical Z-ordered tables: curve order spreads every file over
    // the whole doc_id range, so a 48-key update touches all files and
    // takes the hot/cold split. One table merges through the sort-merge
    // path (composite hot/cold key, per-gap `c<idx>` cold partitions),
    // the other through the default broadcast path.
    def build(name: String): TokenTable = {
      val t = TokenTable.create(spark, tmpDir(name))
      (0 until 4).foreach { i =>
        t.append(TokenGen.asTokenRows(TokenGen.generate(
          spark, 2000, idOffset = i * 2000L, minLen = 16, maxLen = 32,
          numPartitions = 2)))
      }
      Cluster.run(t, Cluster.ZOrder, s"$name-z", targetBytes = 256L * 1024)
      t
    }
    def id(i: Int) = f"doc_$i%012d"
    def updates(t: TokenTable, ranges: Seq[(Int, Int)], tok: Int) = t.scan()
      .filter(ranges.map { case (a, b) => $"doc_id" >= id(a) && $"doc_id" <= id(b) }
        .reduce(_ || _))
      .select($"doc_id", array_repeat(lit(tok), 3).as("tokens"),
        lit(3).as("n_tok"), $"source")
      .withColumn("__p", monotonically_increasing_id())
    def tokensById(t: TokenTable): Map[String, Seq[Int]] =
      t.scan().select($"doc_id", $"tokens").collect()
        .map(r => r.getString(0) -> r.getAs[scala.collection.Seq[Int]](1).toSeq).toMap
    def sortMerge[A](f: => A): A = {
      spark.conf.set("graft.merge.broadcastKeyRows", "0")
      try f finally spark.conf.unset("graft.merge.broadcastKeyRows")
    }
    val smj = build("merge_smj")
    val bc = build("merge_bc")
    val clusters = Seq((1000, 1023), (6000, 6023))
    val rs = sortMerge(Merge.mergeInto(smj, updates(smj, clusters, 7), "__p", "smj-m1"))
    val rb = Merge.mergeInto(bc, updates(bc, clusters, 7), "__p", "bc-m1")
    assert(rs.sourceRows == 48 && rb.sourceRows == 48)
    assert(checksum(smj.scan()) == checksum(bc.scan()), "both paths must produce the same table")
    assert(tokensById(smj) == tokensById(bc), "token arrays must be byte-equal per doc_id")
    assert(smj.scan().filter($"n_tok" === 3).count() == 48)

    // Every output file holding no source key (a cold output) must lie
    // outside every source-key extent, so the next merge over the same
    // keys prunes it.
    val keys = clusters.flatMap { case (a, b) => (a to b).map(id) }.toSet
    Seq(smj -> rs, bc -> rb).foreach { case (t, r) =>
      val parentPaths = t.filesLocal(t.snapshotAt(r.snapshot.parentVersion))
        .map(_.path).toSet
      val added = t.filesLocal(r.snapshot).filterNot(f => parentPaths(f.path))
      val cold = added.filterNot { f =>
        spark.read.parquet(s"${t.location}/${f.path}").select($"doc_id")
          .as[String].collect().exists(keys)
      }
      assert(cold.nonEmpty, s"expected cold outputs among ${added.map(_.path)}")
      cold.foreach { f =>
        assert(clusters.forall { case (a, b) => f.maxDocId < id(a) || f.minDocId > id(b) },
          s"cold output ${f.path} [${f.minDocId}, ${f.maxDocId}] straddles a source extent")
      }
      if (t eq smj) assert(added.exists(_.path.contains("__part=c")),
        "the sort-merge path must write per-gap cold partitions")
    }

    // More extents than MaxGapPartitions: the sort-merge path falls back
    // to one cold partition; both paths still agree.
    val wide = Seq((2000, 2039), (7000, 7039))
    sortMerge(Merge.mergeInto(smj, updates(smj, wide, 8), "__p", "smj-m2"))
    Merge.mergeInto(bc, updates(bc, wide, 8), "__p", "bc-m2")
    assert(tokensById(smj) == tokensById(bc))
    assert(smj.scan().filter($"n_tok" === 3).count() == 128)
  }

  test("a key just above a source extent stays out of the hot output file") {
    // `k + "\t"` sorts after `k` but before `k + " "`: the extent bound
    // succ(k) must be the immediate successor, or the cold row is placed
    // in the hot range's output file and the next merge on `k` re-grazes it.
    val t = TokenTable.create(spark, tmpDir("merge_succ"))
    val k = "doc_k"
    t.append(Seq((k, Seq(1, 2), 2, "web"), (k + "\t", Seq(3), 1, "web"))
      .toDF("doc_id", "tokens", "n_tok", "source").coalesce(1))
    assert(t.filesLocal(t.current).size == 1)
    val src = Seq((k, Seq(9), 1, "web", 0L))
      .toDF("doc_id", "tokens", "n_tok", "source", "__p")
    Merge.mergeInto(t, src, "__p", "succ-m1")
    assert(tokensOf(t, k) == Seq(9) && tokensOf(t, k + "\t") == Seq(3))
    val holding = t.filesLocal(t.current).filter(f => f.minDocId <= k && f.maxDocId >= k)
    assert(holding.nonEmpty && holding.forall(_.maxDocId == k),
      s"file holding $k must end at $k: ${holding.map(f => (f.minDocId, f.maxDocId))}")
  }

  private def tokensOf(t: TokenTable, docId: String): Seq[Int] =
    t.scan().filter($"doc_id" === docId).select($"tokens").head()
      .getAs[scala.collection.Seq[Int]](0).toSeq
}
