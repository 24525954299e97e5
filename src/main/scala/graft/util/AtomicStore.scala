package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-atomic publish protocol for the persisted index stores
  * (`sim/CodesStore` for IVF-PQ and SQ×IVF, `dedup/DedupIndex`).
  *
  * A (re)fit rewrites SEVERAL parquet tables (meta, centroids, codebooks,
  * codes, …). Writing them in place as sequential independent overwrites
  * is torn by construction: a crash — or a concurrent reader — between
  * table writes observes new-generation meta with old-generation codes
  * and silently decodes garbage. The fix is the standard
  * generation-directory + single-pointer-commit protocol:
  *
  *  - every fit writes ALL its tables under a fresh `gen-N/` subdirectory
  *    of the store root — nothing under an existing generation is ever
  *    overwritten by a fit;
  *  - the commit point is the atomic CREATION of one empty marker file
  *    `_commit_N` at the store root (file creation is atomic on every
  *    filesystem Spark targets, unlike rename-over-existing, which HDFS
  *    forbids and object stores fake);
  *  - readers resolve the store to `gen-N/` for the LARGEST committed
  *    marker — a half-written generation has no marker and is invisible;
  *  - in-generation mutations (code/postings appends, tombstones) write
  *    inside the resolved generation directory; they are either pure
  *    parquet appends (crash leaves only an ignored `_temporary/`) or
  *    ordered so the last-written table is the one that activates the
  *    rows (see the callers' docs);
  *  - on commit, generations older than the immediately-previous one are
  *    pruned. The previous generation is RETAINED so a reader that
  *    resolved just before the commit can still finish its scan — the
  *    same one-generation grace object-store table formats give readers.
  *    Pruning is additionally AGE-GATED: a committed generation is only
  *    deleted once its marker is older than `committedGraceMs` (default
  *    60 s ≥ the [[resolveCached]] TTL), so two rapid refits from ANOTHER
  *    process can never delete a generation a TTL-stale cross-process
  *    reader resolved moments earlier; and an UNCOMMITTED generation
  *    whose claim is younger than `claimGraceMs` (default 1 h) is left
  *    alone — it may be a slower concurrent fit still writing its tables,
  *    not an abandoned crash.
  *
  * Legacy stores (tables at the store root, written before this protocol)
  * resolve to the root itself; the first committed generation supersedes
  * them and the second prunes the root tables.
  *
  * Concurrent writers are safe via a CLAIM step: [[begin]] atomically
  * creates `_claim_N` (create-no-overwrite) before returning generation
  * N, so no two writers ever share a generation directory — racing fits
  * land on DIFFERENT generations, each complete, and the last commit
  * wins (the optimistic last-writer-wins of idempotent full refits).
  * A crashed claim merely retires an id; later writers skip past it.
  *
  * ATOMICITY ASSUMPTION (claim + commit): `fs.create(path, false)` must
  * be an atomic create-no-overwrite. That holds on HDFS and local
  * filesystems — the deployments this store targets. S3A and most object
  * stores implement it as a non-atomic HEAD-then-PUT, so two racing
  * writers there could both "win" a claim; [[begin]] therefore writes a
  * per-writer token into the claim file and RE-VERIFIES ownership by
  * reading it back before returning (best-effort detection of the
  * non-atomic race — last-PUT-wins means at most one writer's read-back
  * matches). On a true object store, front this protocol with a
  * conditional-write primitive (S3 If-None-Match PUT) or an external
  * lock; the verification here narrows the window, it does not close it.
  */
/** The ONE primitive the claim/commit/lease protocol needs from the
  * filesystem: an ATOMIC create-no-overwrite ("conditional write").
  * Injectable so deployments on stores where `fs.create(path, false)` is
  * not atomic can supply a real conditional write, and so tests can
  * simulate the non-atomic emulation and prove the protocol's token
  * read-back detects the loser.
  *
  * Implementation notes per store class:
  *  - HDFS / local filesystems: [[AtomicStore.HadoopExclusiveCreate]]
  *    (the default) is truly atomic — `create(overwrite = false)` is a
  *    single namenode op.
  *  - S3 (and S3-compatible stores with conditional writes): implement
  *    `create` as a PUT with the `If-None-Match: *` header (SDK:
  *    `putObject(req.withIfNoneMatch("*"))`); a 412 Precondition Failed
  *    maps to the IOException contract below. S3A itself still emulates
  *    with HEAD-then-PUT, which is why the token read-back exists.
  *  - Anything else: an external lock service (e.g. DynamoDB lock table)
  *    wrapping the create.
  */
trait ExclusiveCreate {
  /** Atomically create `path` holding `bytes`; throw `java.io.IOException`
    * if the path already exists. MUST NOT truncate or overwrite.
    */
  def create(f: FileSystem, path: Path, bytes: Array[Byte]): Unit
}

object AtomicStore {

  private val MarkerPrefix = "_commit_"
  private val ClaimPrefix = "_claim_"
  private val GenPrefix = "gen-"
  private val LeaseName = "_mutation_lease"

  /** Default [[ExclusiveCreate]]: Hadoop's `create(path, overwrite =
    * false)` — atomic on HDFS (a single namenode op). On the LOCAL
    * filesystem Hadoop's implementation is exists-then-truncate — NOT
    * atomic (two processes can interleave past the check and the second
    * truncates the first's file; the cross-process lease race caught
    * exactly this) — so local paths go through POSIX O_EXCL
    * (`File.createNewFile`), which IS atomic: exactly one creator wins,
    * the loser gets the IOException contract. The content write follows
    * the atomic create; a reader can observe a momentarily empty file,
    * which the token read-backs already treat as "not mine".
    */
  object HadoopExclusiveCreate extends ExclusiveCreate {
    def create(f: FileSystem, path: Path, bytes: Array[Byte]): Unit = f match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        val file = new java.io.File(path.toUri.getPath)
        if (!file.createNewFile())
          throw new java.io.IOException(s"$path already exists")
        val out = new java.io.FileOutputStream(file)
        try { if (bytes.nonEmpty) out.write(bytes) } finally out.close()
      case _ =>
        val out = f.create(path, false)
        try { if (bytes.nonEmpty) out.write(bytes) } finally out.close()
    }
  }

  /** The injectable conditional-write primitive every claim, commit
    * marker, and mutation-lease acquisition goes through. Tests swap in
    * a non-atomic double to exercise the read-back race detection;
    * production deployments on object stores swap in a true conditional
    * write (If-None-Match PUT).
    */
  @volatile var exclusiveCreate: ExclusiveCreate = HadoopExclusiveCreate

  /** Tables a legacy (pre-protocol) store may have at its root; pruned
    * once two committed generations exist.
    */
  private val LegacyTables =
    Seq("meta", "centroids", "codebooks", "codes", "cellstats", "tombstones",
      "bands", "grams")

  /** Test-only failure injection: called with a stage label (e.g.
    * "ivfpq:codes") immediately BEFORE each sub-table write and before
    * the commit marker. The kill-mid-write spec throws from here to
    * simulate a crash at every stage; production never sets it.
    */
  @volatile private[graft] var failpoint: String => Unit = _ => ()

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Whether `dir` holds at least one COMMITTED data file (a plain file
    * not named like Spark metadata). A directory that exists but holds
    * only `_temporary/`/`_SUCCESS` — a crashed write's remnant, or a
    * table whose every partition was compacted away — must read as
    * ABSENT, not be handed to schema inference ("Unable to infer
    * schema"), which would brick every later read/mutation of the store.
    * Top-level probe only: the callers' tables write their part files
    * directly under `dir`.
    */
  private[graft] def hasDataFile(f: FileSystem, dir: Path): Boolean =
    f.exists(dir) && f.listStatus(dir).exists(st =>
      st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })

  /** The distinct ids in generation `dir`'s `tombstones` table, if any
    * delete committed there — shared by the vector stores and the dedup
    * index. Probed with [[hasDataFile]], not bare existence: a delete
    * killed mid-write leaves a directory holding only `_temporary/`,
    * which reads as "no tombstones".
    */
  private[graft] def tombstonesOpt(spark: SparkSession,
                                   dir: String): Option[DataFrame] = {
    val p = new Path(s"$dir/tombstones")
    if (hasDataFile(fs(spark, dir), p))
      Some(spark.read.parquet(p.toString).distinct())
    else None
  }

  /** The largest committed generation id, if any commit marker exists. */
  def currentGen(spark: SparkSession, path: String): Option[Long] =
    currentGen(fs(spark, path), path)

  /** [[currentGen]] against an explicit FileSystem — the protocol is pure
    * filesystem arithmetic, so cross-process tools (and the race harness)
    * can drive it without a SparkSession.
    */
  def currentGen(f: FileSystem, path: String): Option[Long] = {
    val root = new Path(path)
    if (!f.exists(root)) None
    else f.listStatus(root).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith(MarkerPrefix))
      .flatMap(n => scala.util.Try(n.drop(MarkerPrefix.length).toLong).toOption)
      .foldLeft(Option.empty[Long])((acc, g) => Some(acc.fold(g)(math.max(_, g))))
  }

  def genDir(path: String, gen: Long): String = s"$path/$GenPrefix$gen"

  /** The directory holding the CURRENT committed generation's tables:
    * `gen-N/` for the largest marker, the store root for a legacy store,
    * or (for reads that will fail loudly anyway) the root when nothing
    * exists yet.
    */
  def resolve(spark: SparkSession, path: String): String =
    currentGen(spark, path).map(genDir(path, _)).getOrElse(path)

  /** [[resolve]] with a short per-JVM TTL cache — for HOT SERVE paths
    * only (index opens/queries), where one marker listing per request
    * becomes a metadata round-trip per query on an object store. Safe by
    * the retention rule: [[commit]] keeps the previous generation on
    * disk, so a reader whose cached resolution is up to one refit stale
    * still scans a complete, consistent generation. In-process commits
    * invalidate immediately; cross-process refits are picked up within
    * `ttlMs`. Mutation paths must use the uncached [[resolve]].
    */
  def resolveCached(spark: SparkSession, path: String,
                    ttlMs: Long = 5000L): String = {
    val now = System.nanoTime()
    resolveCache.get(path) match {
      case Some((deadline, dir)) if now < deadline => dir
      case _ =>
        val dir = resolve(spark, path)
        resolveCache.put(path, (now + ttlMs * 1000000L, dir))
        dir
    }
  }

  private val resolveCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, String)]

  /** Start a new generation: atomically CLAIMS the next unused id
    * (create-no-overwrite of `_claim_N`, retried past races and crashed
    * claims) and returns it with its (not-yet-created) directory — so
    * concurrent writers can never interleave table writes inside one
    * generation directory. The caller writes every table under the
    * directory, then calls [[commit]]; on failure it simply abandons the
    * directory — uncommitted generations are invisible and pruned by
    * later commits.
    */
  def begin(spark: SparkSession, path: String): (Long, String) =
    begin(fs(spark, path), path)

  /** [[begin]] against an explicit FileSystem (see [[currentGen]]). */
  def begin(f: FileSystem, path: String): (Long, String) = {
    val root = new Path(path)
    f.mkdirs(root)
    var attempt = 0
    while (attempt < 64) {
      val taken = f.listStatus(root).iterator.map(_.getPath.getName)
        .flatMap { n =>
          val prefix =
            if (n.startsWith(MarkerPrefix)) MarkerPrefix
            else if (n.startsWith(ClaimPrefix)) ClaimPrefix
            else ""
          if (prefix.isEmpty) None
          else scala.util.Try(n.drop(prefix.length).toLong).toOption
        }.foldLeft(0L)(math.max)
      val next = taken + 1L
      val claim = new Path(s"$path/$ClaimPrefix$next")
      try {
        // per-writer token + read-back: on filesystems with atomic
        // create-no-overwrite (HDFS/local) this always verifies; on an
        // object store's HEAD-then-PUT emulation it detects the loser of
        // a non-atomic double-create (last PUT wins — see class doc)
        val token = java.util.UUID.randomUUID().toString
        val tokenBytes = token.getBytes("UTF-8")
        exclusiveCreate.create(f, claim, tokenBytes)
        val in = f.open(claim)
        // readFully, not read: a single read may legally return a short
        // count (HDFS does) and a prefix must not miscompare as a lost
        // race — an EOF means the file really is shorter (foreign token)
        val got = try {
          val buf = new Array[Byte](tokenBytes.length)
          try { in.readFully(0, buf); new String(buf, "UTF-8") }
          catch { case _: java.io.EOFException => "" }
        } finally in.close()
        if (got == token) return (next, genDir(path, next))
        attempt += 1 // another writer overwrote the claim: retire this id
      } catch {
        case _: java.io.IOException => attempt += 1 // raced a claim: re-list
      }
    }
    sys.error(s"AtomicStore.begin: no claimable generation under $path " +
      "after 64 attempts")
  }

  /** A committed generation below `gen - 1` is only pruned once its
    * marker is at least this old — ≥ the [[resolveCached]] TTL, so two
    * rapid refits can never delete a generation a TTL-stale CROSS-PROCESS
    * reader resolved moments earlier (in-process commits invalidate the
    * cache; other processes can't).
    */
  val DefaultCommittedGraceMs: Long = 60000L

  /** An uncommitted generation is only treated as abandoned (and pruned)
    * once its claim is at least this old: [[begin]] hands out strictly
    * increasing ids, so an EARLIER-begun fit can still be writing its
    * tables when a later, faster fit commits — deleting its directory
    * mid-write would crash it or tear its eventual publish. An hour
    * bounds garbage from genuinely crashed fits while outlasting any
    * sane single fit; pass 0 to force-collect in tests/tools.
    */
  val DefaultClaimGraceMs: Long = 3600000L

  /** Atomically publish generation `gen` (marker-file creation), then
    * prune — with two age gates (see class doc):
    *  - committed generations below the LARGEST committed predecessor
    *    (the retained reader-grace generation — ids are not dense, so
    *    "previous" is by commit order, not `gen - 1`) whose marker is
    *    older than `committedGraceMs`;
    *  - uncommitted generations `<= gen` whose claim is missing or older
    *    than `claimGraceMs` (a younger claim is a concurrent fit still
    *    writing — left alone; ITS commit, or a later one, collects it);
    *  - the legacy root tables, once a previous committed generation also
    *    exists and is itself older than `committedGraceMs`.
    * Pruning is best-effort; a crash mid-prune leaves garbage
    * directories, never a torn reader.
    */
  def commit(spark: SparkSession, path: String, gen: Long,
             committedGraceMs: Long = DefaultCommittedGraceMs,
             claimGraceMs: Long = DefaultClaimGraceMs): Unit =
    commit(fs(spark, path), path, gen, committedGraceMs, claimGraceMs)

  /** [[commit]] against an explicit FileSystem (see [[currentGen]]). */
  def commit(f: FileSystem, path: String, gen: Long,
             committedGraceMs: Long,
             claimGraceMs: Long): Unit = {
    failpoint("commit")
    val marker = new Path(s"$path/$MarkerPrefix$gen")
    // create-no-overwrite: concurrent double-commit of the same id fails loudly
    exclusiveCreate.create(f, marker, Array.emptyByteArray)
    // this fit is published — its claim no longer marks an in-flight write
    f.delete(new Path(s"$path/$ClaimPrefix$gen"), false)
    resolveCache.remove(path)
    val now = System.currentTimeMillis()
    val entries = f.listStatus(new Path(path))
    def idOf(prefix: String, n: String): Option[Long] =
      if (n.startsWith(prefix))
        scala.util.Try(n.drop(prefix.length).toLong).toOption
      else None
    val markers = entries.flatMap(st =>
      idOf(MarkerPrefix, st.getPath.getName)
        .map(g => g -> st.getModificationTime)).toMap
    val claims = entries.flatMap(st =>
      idOf(ClaimPrefix, st.getPath.getName)
        .map(g => g -> st.getModificationTime)).toMap
    def committedExpired(g: Long): Boolean =
      markers.get(g).exists(now - _ >= committedGraceMs)
    def claimLive(g: Long): Boolean =
      claims.get(g).exists(now - _ < claimGraceMs)
    // the retained "previous" generation is the largest COMMITTED one
    // below gen — NOT the literal id gen-1, which (ids being non-dense)
    // can belong to an abandoned or in-flight claim while the actual
    // latest-committed predecessor is older and would otherwise be
    // age-expired and pruned out from under TTL-stale readers
    val prevCommitted = markers.keys.filter(_ < gen)
      .foldLeft(Option.empty[Long])((a, g) => Some(a.fold(g)(math.max(_, g))))
    entries.foreach { st =>
      val n = st.getPath.getName
      val genId = idOf(MarkerPrefix, n)
        .orElse(idOf(ClaimPrefix, n)).orElse(idOf(GenPrefix, n))
      val prune = genId.exists { g =>
        if (g > gen || g == gen) false
        else if (markers.contains(g)) // committed: retain previous + young
          !prevCommitted.contains(g) && committedExpired(g)
        else // uncommitted: abandoned only once its claim has expired
          !claimLive(g)
      }
      if (prune) { f.delete(st.getPath, true); () }
    }
    // grace-zero escape parenthesized INSIDE the committed-predecessor
    // requirement: the legacy root tables are only pruned once a previous
    // committed generation actually exists (gen >= 2 alone does not imply
    // one — gen 1's claim may have crashed, ids being non-dense)
    if (gen >= 2L && markers.keys.exists(g =>
          g < gen && (committedGraceMs <= 0L || committedExpired(g))))
      LegacyTables.foreach { t =>
        val p = new Path(s"$path/$t")
        if (f.exists(p)) { f.delete(p, true); () }
      }
  }

  /** A mutation lease is only broken (treated as crashed) once this old
    * WITHOUT a heartbeat: a live holder refreshes the lease's mtime
    * every `leaseGraceMs / 4` (daemon heartbeat thread), so an
    * arbitrarily long mutation — a full-corpus refit, a fold — never
    * loses exclusion mid-run; only a holder whose PROCESS died stops
    * heartbeating and expires. 10 min bounds how long a crashed holder
    * blocks the store.
    */
  val DefaultLeaseGraceMs: Long = 600000L

  /** Store paths whose mutation lease THIS THREAD currently holds —
    * [[withMutationLease]] is re-entrant per thread, so a stream batch
    * that holds the lease can call mutation APIs (append → auto-compact
    * → fold) that themselves take it.
    */
  private val heldLeases = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  def withMutationLease[T](spark: SparkSession, path: String,
                           owner: String = "",
                           leaseGraceMs: Long = DefaultLeaseGraceMs)
                          (body: => T): T =
    withMutationLease(fs(spark, path), path, owner, leaseGraceMs)(body)

  /** Run `body` holding the store's MUTATION LEASE — the enforcement of
    * the single-writer contract every in-generation mutation documents
    * (deletes/compactions/folds vs a live stream batch's write/checkpoint
    * window). Acquisition is the same conditional write as [[begin]]'s
    * claims (create-no-overwrite of `_mutation_lease` + token read-back);
    * a store whose lease another writer holds REJECTS loudly with
    * `IllegalStateException` instead of trusting documentation — the
    * caller chooses whether to retry once the holder (e.g. the stream's
    * current batch) releases. Re-entrant per thread; a lease older than
    * `leaseGraceMs` is broken as a crashed holder's garbage. NOT a fair
    * lock and not for throughput: mutations are rare, coarse operations.
    */
  def withMutationLease[T](f: FileSystem, path: String, owner: String,
                           leaseGraceMs: Long)(body: => T): T = {
    if (heldLeases.get().contains(path)) return body // re-entrant
    val lease = new Path(s"$path/$LeaseName")
    f.mkdirs(new Path(path))
    val token = (if (owner.nonEmpty) s"$owner:" else "") +
      java.util.UUID.randomUUID().toString
    val tokenBytes = token.getBytes("UTF-8")
    def readBack(): String =
      try {
        val in = f.open(lease)
        try {
          val buf = new Array[Byte](tokenBytes.length)
          try { in.readFully(0, buf); new String(buf, "UTF-8") }
          catch { case _: java.io.EOFException => "" }
        } finally in.close()
      } catch { case _: java.io.IOException => "" }
    def tryAcquire(): Boolean =
      try {
        exclusiveCreate.create(f, lease, tokenBytes)
        // same read-back as begin(): on a HEAD-then-PUT emulation the
        // loser of a non-atomic double create miscompares and backs off
        readBack() == token
      } catch { case _: java.io.IOException => false }
    var acquired = tryAcquire()
    if (!acquired) {
      // a holder that stopped heartbeating for a full grace is a crashed
      // mutation's garbage — break it once and retry; a YOUNG (or
      // actively heartbeating) holder is a live writer: reject. The
      // break is ARBITRATED through the same atomic conditional write as
      // the lease itself: a recoverer must first exclusively create a
      // BREAK MARKER named by the stale token's digest, so exactly one
      // recoverer per stale incarnation may delete — a bare
      // verify-then-delete would let two recoverers leap-frog (B
      // re-verifies the stale content, A breaks and acquires fresh, B's
      // delete then evicts A's LIVE lease). Inside the marker the winner
      // re-verifies the content one last time (nobody else may delete
      // without winning a marker, so verify-then-delete is race-free
      // there) — a transient non-FNF IO error is never misread as
      // "vanished", and a lease the crashed holder's SUCCESSOR already
      // replaced reads fresh and backs off.
      val staleToken: Option[String] =
        try {
          val st = f.getFileStatus(lease)
          if (st.getModificationTime <
              System.currentTimeMillis() - leaseGraceMs) {
            val buf = new Array[Byte](math.min(st.getLen, 256L).toInt)
            val in = f.open(lease)
            try in.readFully(0, buf) finally in.close()
            Some(new String(buf, "UTF-8"))
          } else None // young: live writer
        } catch {
          case _: java.io.FileNotFoundException => Some("") // vanished: retry
          case _: java.io.IOException => None // transient: NOT evidence
        }
      staleToken.foreach { expect =>
        if (expect.isEmpty) {
          // vanished between reject and probe: no delete needed, the
          // re-acquisition is itself the atomic conditional write
          acquired = tryAcquire()
        } else {
          val digest = java.security.MessageDigest.getInstance("SHA-256")
            .digest(expect.getBytes("UTF-8"))
            .take(8).map("%02x".format(_)).mkString
          val marker = new Path(s"$path/${LeaseName}_break_$digest")
          val wonBreak =
            try { exclusiveCreate.create(f, marker, Array.emptyByteArray); true }
            catch {
              case _: java.io.IOException =>
                // a marker for THIS incarnation already exists: either a
                // concurrent recoverer is mid-break (back off — it will
                // finish in ms) or a recoverer CRASHED between marker
                // and delete. Only the second wedges the store, so age
                // the marker on the lease grace before garbage-collecting
                // it and retrying once. The GC itself is arbitrated by
                // an atomic RENAME to a unique name — a delete-then-
                // recreate here would let two GC'ers interleave so the
                // second's delete removed the first's FRESH marker (the
                // leap-frog window one level down); rename fails for all
                // but one mover, and a recoverer that then loses the
                // re-create to a third arrival backs off normally.
                val crashed =
                  try f.getFileStatus(marker).getModificationTime <
                    System.currentTimeMillis() - leaseGraceMs
                  catch { case _: java.io.IOException => false }
                crashed && {
                  val gcP = new Path(s"$path/${LeaseName}_break_gc_" +
                    java.util.UUID.randomUUID().toString.take(8))
                  val moved =
                    try f.rename(marker, gcP)
                    catch { case _: java.io.IOException => false }
                  if (moved) { f.delete(gcP, false); () }
                  moved && (
                    try { exclusiveCreate.create(f, marker,
                      Array.emptyByteArray); true }
                    catch { case _: java.io.IOException => false })
                }
            }
          if (wonBreak) {
            try {
              val still =
                try {
                  val st = f.getFileStatus(lease)
                  val buf = new Array[Byte](math.min(st.getLen, 256L).toInt)
                  val in = f.open(lease)
                  try in.readFully(0, buf) finally in.close()
                  new String(buf, "UTF-8") == expect &&
                    st.getModificationTime <
                      System.currentTimeMillis() - leaseGraceMs
                } catch {
                  case _: java.io.FileNotFoundException => false // gone: just acquire
                  case _: java.io.IOException => false
                }
              if (still) { f.delete(lease, false); () }
              acquired = tryAcquire()
            } finally { f.delete(marker, false); () }
          }
        }
      }
    }
    if (!acquired) {
      val holder =
        try {
          val st = f.getFileStatus(lease)
          val buf = new Array[Byte](math.min(st.getLen, 256L).toInt)
          val in = f.open(lease)
          try in.readFully(0, buf) finally in.close()
          new String(buf, "UTF-8")
        } catch { case _: java.io.IOException => "<unknown>" }
      throw new IllegalStateException(
        s"store mutation lease at $path is held by '$holder' — another " +
          "writer (e.g. a live stream batch) is mutating this store; " +
          "retry after it releases (single-writer contract, enforced)")
    }
    heldLeases.set(heldLeases.get() + path)
    // HEARTBEAT: refresh the lease mtime every grace/4 so an arbitrarily
    // long mutation (a full-corpus refit, a large fold) never expires
    // mid-run — only a holder whose process DIED stops renewing. Daemon
    // thread; a filesystem that rejects setTimes just leaves the
    // original grace semantics in place.
    val stopBeat = new java.util.concurrent.CountDownLatch(1)
    val beat = new Thread(() => {
      while (!stopBeat.await(math.max(leaseGraceMs / 4, 1000L),
          java.util.concurrent.TimeUnit.MILLISECONDS)) {
        try f.setTimes(lease, System.currentTimeMillis(), -1L)
        catch { case _: Exception => () }
      }
    })
    beat.setDaemon(true)
    beat.setName(s"graft-lease-heartbeat:$path")
    beat.start()
    try body
    finally {
      heldLeases.set(heldLeases.get() - path)
      stopBeat.countDown()
      // release only OUR lease: a mutation that outlived the grace may
      // have been broken and superseded — blindly deleting would evict
      // the successor's lease and let a third writer race it
      if (readBack() == token) f.delete(lease, false)
      ()
    }
  }
}
