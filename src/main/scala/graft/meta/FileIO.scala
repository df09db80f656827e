package graft.meta

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

/** The engine's filesystem contract, named and isolated (SURVEY §7
  * known-hard #2): every primitive the commit protocol and the ref
  * machinery rely on lives behind this seam, with its object-store
  * mapping documented, so porting to S3-class storage is a second
  * implementation of FOUR methods — not an audit of every Files.* call
  * in the codebase. The local implementation is byte-identical to the
  * direct calls it replaced. See ARCHITECTURE.md "Filesystem contract".
  *
  * The four primitives and what each really requires:
  *
  *  1. [[replaceSlot]] — atomic whole-file replace of a SINGLETON
  *     metadata slot: every non-manifest JSON file in `_hadro/`, all
  *     written by [[CollectionMeta.writeSlot]] — schema.json,
  *     writeorder.json, constraints.json, refs.json, consumers.json,
  *     branches.json, clone-origin.json, the index and tokenizer
  *     sidecars (ivf-centroids.json, pq-codebook.json, sq8-params.json,
  *     vocab.json) and the deferred-GC dead-lists (dead-<n>.json).
  *     Requirement: readers see the
  *     old bytes or the new bytes, never a mix, never absence. POSIX:
  *     write-temp + rename(2) (ATOMIC_MOVE, REPLACE_EXISTING). S3: one
  *     unconditional PUT of the slot key — a PUT is already atomic and
  *     last-writer-wins per key, which is exactly this slot's documented
  *     concurrency contract (the ref lock serializes the read-modify-
  *     write ABOVE this primitive).
  *
  *  2. [[publishNew]] — claim-if-absent publish of a VERSIONED slot
  *     (manifest-NNNNNNNNNN.json): the manifest commit race is decided
  *     by whoever claims the version number first; the loser must FAIL
  *     (and retry at the next number), never overwrite. POSIX: O_EXCL
  *     createFile claims the slot, then ATOMIC_MOVE fills it (a pure
  *     rename replaces with no delete window). S3: a single conditional
  *     PUT with If-None-Match: * — same linearization in one round trip
  *     (supported by S3 proper since 2024, GCS and MinIO for longer).
  *
  *  3. [[withFileLock]] — cross-PROCESS mutual exclusion for the
  *     refs/branches read-modify-write (tag pins, branch-head moves,
  *     fork bases: two unserialized writers silently drop one another's
  *     update, and a lost tag pin hands its snapshot to GC). POSIX:
  *     FileChannel.lock on a lock file. S3: there is no lock primitive —
  *     map to a CAS loop (conditional PUT on a generation-numbered refs
  *     object, retry on precondition failure) or an external lease
  *     (DynamoDB-style, the Delta-on-S3 commit-service shape). The JVM-
  *     internal monitor that makes this re-entrant per process stays
  *     ABOVE the seam in [[CollectionMeta.withBranchLock]] — it is not a
  *     storage concern.
  *
  *  4. [[linkOrCopy]] — zero-copy adoption of an IMMUTABLE data file
  *     into another collection's directory (clone, publishFrom: the
  *     zero-copy-clone verbs). POSIX: hard link, byte-copy fallback for
  *     cross-device paths. S3: server-side COPY (no bytes through the
  *     client) — or, better, manifest-level adoption by absolute key so
  *     nothing moves at all; the copy fallback is the semantics this
  *     primitive promises, the link is the optimization.
  *
  * Deliberately NOT behind the seam: plain reads, segment/sidecar data
  * writes (immutable write-once files — any object store handles
  * write-then-read-by-new-key), deletes (GC tolerates eventual
  * visibility), and directory creation (S3 has no directories; the
  * local impl's createDirectories calls are harmless no-ops there).
  */
trait FileIO {
  /** Atomically replace singleton slot `target` with the bytes at `tmp`
    * (consuming `tmp`). Readers see old or new, never a mix. */
  def replaceSlot(tmp: Path, target: Path): Unit

  /** Publish the bytes at `tmp` (consuming it) as `target` iff no one
    * has claimed `target` yet. Returns false — leaving `target`
    * untouched and `tmp` deleted — when the slot was already claimed. */
  def publishNew(tmp: Path, target: Path): Boolean

  /** Run `body` holding an exclusive cross-process lock on `lockFile`
    * (created if absent). Callers provide per-process re-entrancy. */
  def withFileLock[T](lockFile: Path)(body: => T): T

  /** Make the immutable file `src` available at `dst` without copying
    * bytes where the storage allows it (hard link / server-side copy);
    * fall back to a plain copy. */
  def linkOrCopy(src: Path, dst: Path): Unit
}

/** POSIX implementation — the behavior every existing spec pins. */
object LocalFileIO extends FileIO {
  override def replaceSlot(tmp: Path, target: Path): Unit =
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)

  override def publishNew(tmp: Path, target: Path): Boolean =
    try {
      // CREATE_NEW-equivalent atomic publish: createFile claims the slot
      // atomically (O_EXCL); the ATOMIC_MOVE then fills it with a pure
      // rename(2) — REPLACE_EXISTING without ATOMIC_MOVE would DELETE
      // the target first, and in that window another committer's
      // createFile claims the same version: a silent lost update.
      Files.createFile(target)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        false
    }

  override def withFileLock[T](lockFile: Path)(body: => T): T = {
    val ch = FileChannel.open(lockFile,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      val l = ch.lock()
      try body finally l.release()
    } finally ch.close()
  }

  override def linkOrCopy(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src)
    catch { case _: Exception => Files.copy(src, dst) }
}

/** OBJECT-STORE-SEMANTICS implementation: no rename, no hard link, no
  * byte-range lock — only the primitives an S3-class store actually
  * offers (atomic whole-object PUT, conditional PUT `If-None-Match: *`,
  * server-side COPY). This is the faithful local stand-in that FALSIFIES
  * rename/link assumptions in the protocol above the seam: every
  * emulated primitive exposes exactly the object-store contract and
  * nothing more. A real S3 port swaps the three private emulation
  * points for SDK calls; everything above the [[FileIO]] trait is
  * already proven against these semantics (ObjectStoreFileIOSpec runs
  * the commit-contention, refs/tag and branch protocols under it).
  *
  * Mapping (the ARCHITECTURE.md "Filesystem contract" table, realized):
  *   - [[replaceSlot]]  -> one unconditional PUT of the slot key. A PUT
  *     is atomic and last-writer-wins per key; readers see old or new
  *     bytes, never a mix and never absence.
  *   - [[publishNew]]   -> ONE conditional PUT (`If-None-Match: *`):
  *     claim and fill are a single linearization point, so there is NO
  *     window where the slot exists but is empty (LocalFileIO's
  *     createFile-then-move shape has one; readers tolerate it, but the
  *     object-store contract is strictly cleaner).
  *   - [[withFileLock]] -> a LEASE loop: claim-if-absent on a lock
  *     object, retry on conflict, delete to release — the documented
  *     CAS-loop mapping (Delta-on-S3 commit-service shape). Fairness
  *     and staleness policy live with the deployment; here the holder
  *     always releases (crash-stale leases are a deployment concern the
  *     local stand-in does not model).
  *   - [[linkOrCopy]]   -> server-side COPY: a plain byte copy of an
  *     immutable, already-published file (the semantics the primitive
  *     promises; the hard link is only LocalFileIO's optimization).
  *
  * Emulation notes: object-store PUT atomicity is SERVER-side; the local
  * stand-in reproduces it with a hidden same-directory temp + atomic
  * move (invisible to callers — exactly as S3 clients never observe a
  * partial PUT), and serializes conditional PUTs per key with a
  * JVM-wide monitor (the server's linearization point; this stand-in is
  * single-process like the test rig, a real store serializes across
  * clients). No caller-visible rename, link, or lock primitive exists
  * anywhere in this implementation. */
object ObjectStoreFileIO extends FileIO {
  // per-key linearization monitors (the "server side" of the emulation)
  private val keyMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def monitorFor(target: Path): Object =
    keyMonitors.computeIfAbsent(
      target.toAbsolutePath.normalize.toString, _ => new Object)

  /** Atomic whole-object PUT (emulated): callers never observe a partial
    * object. The temp+move here is the emulation's hidden internals, not
    * a protocol rename — the seam's contract is just "PUT is atomic". */
  private def put(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(
      s".osput-${System.nanoTime()}-${Thread.currentThread().getId}-${target.getFileName}")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  override def replaceSlot(tmp: Path, target: Path): Unit = {
    val bytes = Files.readAllBytes(tmp)
    Files.deleteIfExists(tmp)
    put(target, bytes)
  }

  override def publishNew(tmp: Path, target: Path): Boolean = {
    val bytes = Files.readAllBytes(tmp)
    Files.deleteIfExists(tmp)
    monitorFor(target).synchronized {
      if (Files.exists(target)) false
      else { put(target, bytes); true }
    }
  }

  override def withFileLock[T](lockFile: Path)(body: => T): T = {
    // lease object next to the requested lock path; claim-if-absent is
    // the conditional PUT, release is a DELETE — the CAS/lease loop an
    // object store forces on you instead of flock
    val lease = lockFile.resolveSibling(lockFile.getFileName.toString + ".lease")
    Files.createDirectories(lease.getParent)
    var backoff = 1L
    while (true) {
      val claimed = monitorFor(lease).synchronized {
        if (Files.exists(lease)) false
        else { put(lease, Array.emptyByteArray); true }
      }
      if (claimed) {
        try return body
        finally Files.deleteIfExists(lease)
      }
      Thread.sleep(backoff)
      backoff = math.min(16L, backoff * 2)
    }
    throw new IllegalStateException("unreachable")
  }

  override def linkOrCopy(src: Path, dst: Path): Unit =
    Files.copy(src, dst)
}

/** The active implementation (a seam, not a config knob: tests and a
  * future object-store port swap it; production code never reads it
  * directly — CollectionMeta/Collection route through [[FileIO.impl]]). */
object FileIO {
  @volatile var impl: FileIO = LocalFileIO
}
