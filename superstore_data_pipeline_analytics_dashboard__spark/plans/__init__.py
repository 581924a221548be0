"""Plan modules. Each is imported by its full path; importing the package
loads none of them, so the ELT does not pay for the query catalog."""
