package graft.log

/** Delta-style logical conflict detection for optimistic commits.
  *
  * The commit log's CAS ([[CommitLog.commit]]'s `expectedVersion`) tells
  * a transaction only that SOMETHING won the race — not whether the
  * winner actually invalidates its derived actions. Without this module
  * every loser pays the worst case: re-derive the whole command
  * (re-scan, re-join, re-write data files). At 100 TB that turns the
  * common benign race — a streaming append landing while a DELETE on an
  * unrelated partition rewrites its files — into a full re-execution,
  * and under sustained append pressure a long-running maintenance
  * command can starve forever.
  *
  * [[ConflictCheck.check]] reproduces the Delta conflict-checker
  * contract (delta-io protocol, "Concurrency Control"; mirrored by the
  * OptimisticTransaction conflict rules): given what a transaction READ
  * and what it REMOVES, commits that won the race either
  *
  *   - logically COMMUTE with it — the transaction REBASES: the same
  *     staged files and actions are committed at the new head, zero
  *     recompute ([[CommitLog.commitOrRebase]]); or
  *   - genuinely CONFLICT — a TYPED exception says what raced, so
  *     callers (and users) know whether re-deriving can help:
  *     [[ConcurrentAppendException]] and
  *     [[ConcurrentDeleteReadException]] mean a re-derivation against
  *     the fresh snapshot will observe the winner's rows and succeed;
  *     [[ConcurrentDeleteDeleteException]] usually means another writer
  *     is doing the same work; [[MetadataChangedException]] /
  *     [[ProtocolChangedException]] mean the table itself changed shape
  *     under the transaction.
  *
  * All the typed exceptions extend
  * `java.util.ConcurrentModificationException`, so the existing bounded
  * re-derive loops (`GraftWriter.retryDerived`, behind merge, DML,
  * OPTIMIZE, ALTER and RESTORE, and `RetryingCoordinator`) handle them
  * unchanged — rebase is a fast path layered UNDER those loops, not a
  * replacement.
  */
abstract class GraftConcurrencyException(message: String)
    extends java.util.ConcurrentModificationException(message)

/** A concurrent commit changed table metadata (schema or properties)
  * the transaction's derivation assumed.
  */
final class MetadataChangedException(message: String)
    extends GraftConcurrencyException(message)

/** A concurrent commit changed the table's protocol feature set. */
final class ProtocolChangedException(message: String)
    extends GraftConcurrencyException(message)

/** A concurrent commit added files the transaction's read predicate may
  * match — its derived actions missed those rows.
  */
final class ConcurrentAppendException(message: String)
    extends GraftConcurrencyException(message)

/** A concurrent commit removed (rewrote or deletion-vectored) a file the
  * transaction read rows from.
  */
final class ConcurrentDeleteReadException(message: String)
    extends GraftConcurrencyException(message)

/** A concurrent commit removed a file the transaction also removes. */
final class ConcurrentDeleteDeleteException(message: String)
    extends GraftConcurrencyException(message)

/** What a transaction read and writes — enough to decide whether the
  * commits that won the race logically conflict with it.
  *
  * @param readPaths  table-relative paths of the files whose ROWS
  *                   influenced the transaction's output (for a COW
  *                   DELETE that is the touched files; for a merge with
  *                   an insert/by-source branch it is every candidate
  *                   file, because the anti-join read them all)
  * @param removePaths paths the transaction's commit removes
  * @param mayRead    could the transaction's read predicate match rows
  *                   in this file? Evaluated on files a winning commit
  *                   ADDED (partition/stats pruning with the
  *                   transaction's predicate — conservative `true` when
  *                   nothing is provable). `_ => false` for commands
  *                   that read only specific files (compaction).
  * @param isBlindAppend the transaction read nothing — only metadata /
  *                   protocol changes can conflict with it
  */
final case class TxnProfile(
    readPaths: Set[String],
    removePaths: Set[String],
    mayRead: AddFile => Boolean,
    isBlindAppend: Boolean = false)

object ConflictCheck {

  /** Throw the typed conflict if any of `winners` (commits that landed
    * after the version the transaction derived from, oldest first)
    * logically conflicts with `profile`; return normally when a rebase
    * is safe.
    *
    * Same-path re-adds (a winner's `remove(p) + add(p, dv)` pair) are a
    * deletion-vector repoint. When the new DV is at least as large as
    * the one the transaction's base snapshot held for that path
    * (`baseDvCardinality`), the file's live rows only SHRANK — the
    * re-add can never introduce rows the transaction's predicate
    * missed, so it is checked as a delete (of the DV'd rows), not as an
    * append. A SHRINKING re-add (RESTORE un-deleting rows) falls
    * through to the normal append check.
    */
  def check(
      profile: TxnProfile,
      baseSchemaDdl: String,
      baseProperties: Map[String, String],
      /** path → DV cardinality (0 when none) of each live file at the
        * version the transaction derived from.
        */
      baseDvCardinality: Map[String, Long],
      winners: Seq[Commit],
      tablePath: String): Unit = {
    winners.foreach { c =>
      val who = s"version ${c.version} (${c.operation}) of $tablePath"

      // --- metadata / protocol ---
      if (c.schemaDdl != baseSchemaDdl)
        throw new MetadataChangedException(
          s"concurrent $who changed the table schema")
      // identity and row-id high-water marks are monotone operational
      // counters advanced by ordinary appends, not shape metadata —
      // comparing them would kill the rebase fast path on exactly the
      // hot-append identity and row-tracked tables it serves (stale-hwm
      // safety is commit-time: CommitLog.advanceHwms never lets a rebase
      // regress an identity hwm, and CommitLog.commit assigns base row
      // ids from the head's row-id hwm on every attempt). Idempotent-txn
      // markers are per-application counters too: every streaming
      // append advances one, and CommitLog.commit checks a txn against
      // the head, never against a rebased base
      def opProps(m: Map[String, String]): Map[String, String] =
        m.filter { case (k, _) =>
          k.startsWith(CommitLog.ReservedPrefix) && !CommitLog.isHwmKey(k) &&
            k != CommitLog.RowIdHwmKey && !k.startsWith(CommitLog.TxnPrefix)
        }
      val props = opProps(c.metadata)
      if (props != opProps(baseProperties)) {
        val protoKeys = Set(Protocol.ReaderFeaturesKey, Protocol.WriterFeaturesKey)
        val protoChanged = protoKeys.exists(k =>
          props.get(k) != baseProperties.get(k))
        if (protoChanged)
          throw new ProtocolChangedException(
            s"concurrent $who changed the table's protocol features")
        throw new MetadataChangedException(
          s"concurrent $who changed table properties")
      }

      if (!profile.isBlindAppend) {
        // --- their removes vs my removes / reads ---
        c.remove.foreach { r =>
          if (profile.removePaths(r.path))
            throw new ConcurrentDeleteDeleteException(
              s"concurrent $who removed ${r.path}, which this " +
                "transaction also removes")
          if (profile.readPaths(r.path))
            throw new ConcurrentDeleteReadException(
              s"concurrent $who removed ${r.path}, which this " +
                "transaction read rows from")
        }
        // --- their adds vs my read predicate ---
        val repointed = c.remove.map(_.path).toSet
        c.add.foreach { a =>
          val isDvGrow = repointed(a.path) && a.dv.exists(dv =>
            baseDvCardinality.get(a.path).exists(_ <= dv.cardinality))
          if (!isDvGrow && profile.mayRead(a))
            throw new ConcurrentAppendException(
              s"concurrent $who added ${a.path}, which this " +
                "transaction's read predicate may match")
        }
      }
    }
  }
}
