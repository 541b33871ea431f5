package graft.sources

/** Shared test-filesystem helper for the gc specs (round-19 review:
  * the recursive temp-dir delete was re-implemented four ways across
  * ArtifactGcSpec/GcTagSpec, and none ran in a finally — a failing
  * assert leaked the planted roots). */
private[sources] object TestFs {
  /** Run `body` against an isolated ArtifactStore root, deleting the
    * root even when an assertion throws. */
  def withTempRoot[T](prefix: String)(body: String => T): T =
    graft.TempDirs.withTempDir(prefix)(root =>
      ArtifactStore.withRootForTest(root.toString)(body(root.toString)))
}
